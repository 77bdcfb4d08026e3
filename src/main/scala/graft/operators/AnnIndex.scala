package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.VectorOps

/** Stored-ANN-index LIFECYCLE — the maintenance half the serving
  * paths ([[Similarity.ivfqRerank]], [[Similarity.graphTopKFromIndex]])
  * read from. Before this module the stored IVF/int8 and graph-edge
  * indexes were rebuild-only and their centroids lived in driver
  * memory; a deployment ingesting daily would re-run the full fit +
  * build over the corpus. Here:
  *
  *  - the k-means centroids are PERSISTED as a tiny parquet sidecar
  *    next to the index files (the way [[Retrieval.buildIndex]] stores
  *    its 1-row `stats` table), so serving round-trips entirely from
  *    disk with no in-session fit;
  *  - APPEND assigns only the new batch's vectors to the FROZEN
  *    stored cells and adds them as new files inside their cid
  *    partitions — O(batch), never O(corpus), and exactly equal to a
  *    rebuild under the same centroids (same assignment function, so
  *    the appended index is row-identical — `AnnAppendSpec` asserts
  *    served-results parity);
  *  - graph append wires each new vector into the stored k-NN graph
  *    by SEARCHING the existing graph for its top-g neighbors (the
  *    HNSW/DiskANN insertion rule: an insert is a search), then
  *    refreshes only the TOUCHED src-hash buckets — new forward
  *    edges, reverse shortcut edges into the affected old sources,
  *    per-src re-rank capped at g — via dynamic partition overwrite,
  *    leaving every untouched bucket's files byte-identical.
  *
  * Layout per index dir:
  *  - `dir/centroids`: (cid int 1-based, centroid array<double>) —
  *    cid numbering matches [[Similarity.assignCells]]'s 1-based
  *    array_position so a loaded sidecar is drop-in for the fit.
  *  - `dir/manifest`: 1-row (n_built, n_appended, n_deleted) drift
  *    ledger feeding [[needsRefit]]; `dir/deletes`: the tombstone
  *    sidecar ([[deleteVectors]], kept by [[StoredShards]], which
  *    owns every stored table's lifecycle and stated schema).
  *  - IVF×int8 `dir/vectors`: (vec_id, qv array<tinyint>, scale,
  *    cid) cid-partitioned, in-file sorted by vec_id (the
  *    `IvfqLayoutSpec` form).
  *  - graph `dir/edges`: (src, dst, score, bucket) partitioned by
  *    `bucket = pmod(hash(src), nBuckets)`, in-file sorted by src
  *    (the `GraphLayoutSpec` form; serving reads (src, dst) only);
  *    `dir/nodes`: the exact live-membership sidecar (see
  *    [[Nodes]]) — deletes probe it, because consolidation can
  *    erase a live node from `edges` entirely.
  *
  * At 100 TB: an append touches `filesPerShard` new files per
  * occupied cell (IVF) or the touched src buckets (graph — bucket
  * count scales with nBuckets, so touched-bucket volume is
  * ~|batch|·g·(rows/bucket), independent of the corpus); IVF file
  * growth is folded back by [[compactIvfq]], also corpus-free.
  */
object AnnIndex {

  // ---- versioned roots ----

  /** An index dir holds either the flat layout (vectors/centroids/
    * manifest/deletes directly under `dir` — what [[buildIvfqIndex]]
    * writes) or VERSIONED roots `dir/v_<N>` with the same parts
    * inside — what [[refitIvfq]] commits. Every reader and mutator
    * resolves to the highest committed version first, so a refit's
    * cutover is ONE atomic directory rename: a caller racing the
    * cutover resolves either the old root or the new one, and in
    * both cases reads vectors and centroids from the SAME fit — the
    * mixed-parts window (new vectors under an old sidecar) that a
    * per-part rename sequence had is gone, and a crash mid-refit
    * leaves only an ignored staging dir (cleaned by the next refit)
    * rather than a half-swapped index. Idempotent (a resolved root
    * has no `v_*` children), so helpers may resolve defensively. */
  private[operators] def resolveRoot(spark: SparkSession,
                                     dir: String): String = {
    val v = currentVersion(spark, dir)
    if (v == 0L) dir else s"$dir/v_$v"
  }

  /** A fresh BUILD writes the flat layout and must not leave a higher
    * version root shadowing it. */
  private def dropVersionRoots(spark: SparkSession, dir: String): Unit =
    versionRoots(spark, dir).foreach(v => StoredShards.delete(spark, s"$dir/$v"))

  private def versionRoots(spark: SparkSession, dir: String): Seq[String] =
    StoredShards.subdirs(spark, dir).filter(_.matches("v_\\d+"))

  private def currentVersion(spark: SparkSession, dir: String): Long =
    versionRoots(spark, dir).map(_.stripPrefix("v_").toLong).foldLeft(0L)(math.max)

  // ---- centroid sidecar ----

  /** Persist k-means centroids as `dir/centroids` — one text line per
    * 1-based cid matching [[Similarity.assignCells]], doubles encoded
    * as `doubleToLongBits` hex so the roundtrip is bit-exact. nlist
    * rows of `dim` doubles is driver-sized by construction (the fit
    * collects them anyway), so the sidecar is plain driver FS IO: a
    * serve or append never pays a Spark job just to load 16 rows —
    * at bench granularity that job was a fixed ~0.15 s tax on every
    * lifecycle call. */
  def writeCentroids(spark: SparkSession, centroids: Array[Array[Double]],
                     dir: String): Unit =
    StoredShards.writeLines(spark, s"$dir/centroids",
      centroids.toSeq.zipWithIndex.map { case (c, i) =>
        s"${i + 1}\t" + c.iterator.map(d => java.lang.Long.toHexString(
          java.lang.Double.doubleToRawLongBits(d))).mkString(",")
      })

  /** Load the sidecar back into the in-memory form every serving path
    * takes (array index i ↔ cid i+1). */
  def readCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    StoredShards.readLines(spark, s"${resolveRoot(spark, dir)}/centroids")
      .filter(_.nonEmpty).map { line =>
        val Array(cid, vec) = line.split("\t", 2)
        cid.toInt -> vec.split(",").map(h =>
          java.lang.Double.longBitsToDouble(
            java.lang.Long.parseUnsignedLong(h, 16)))
      }.toArray.sortBy(_._1).map(_._2)

  // ---- drift manifest ----

  /** The 1-row drift ledger `dir/manifest` — (n_built, n_appended,
    * n_deleted): how far the stored corpus has moved from the one
    * the centroids were FITTED on. Build resets it; every append and
    * delete adds its batch count (a 1-row read + overwrite, no
    * corpus scan). [[needsRefit]] reads it; [[refitIvfq]] folds the
    * drift back to zero. */
  // 3 longs: plain driver FS IO, not a Spark job — the ledger is
  // 1-row by design and every lifecycle op bumps it
  private def writeManifest(spark: SparkSession, dir: String,
                            built: Long, appended: Long,
                            deleted: Long): Unit =
    StoredShards.writeLines(spark, s"$dir/manifest",
      Seq(s"""{"n_built":$built,"n_appended":$appended,"n_deleted":$deleted}"""))

  private val Manifest = """\{"n_built":(-?\d+),"n_appended":(-?\d+),"n_deleted":(-?\d+)\}""".r

  private def readManifest(spark: SparkSession,
                           dir: String): Option[(Long, Long, Long)] = {
    val p = s"${resolveRoot(spark, dir)}/manifest"
    if (!StoredShards.exists(spark, p)) None
    else StoredShards.readLines(spark, p).headOption.collect {
      case Manifest(b, a, d) => (b.toLong, a.toLong, d.toLong)
    }
  }

  /** The drift ledger's counts — (n_built, n_appended, n_deleted) —
    * exposed for spec assertions and ops dashboards; None for a
    * pre-manifest index. */
  def manifestCounts(spark: SparkSession,
                     dir: String): Option[(Long, Long, Long)] =
    readManifest(spark, dir)

  private def bumpManifest(spark: SparkSession, dir: String,
                           appended: Long, deleted: Long): Unit =
    readManifest(spark, dir).foreach { case (b, a, d) =>
      writeManifest(spark, resolveRoot(spark, dir), b, a + appended,
        d + deleted)
    }

  /** REFIT TRIGGER — the drift valve completing the index lifecycle
    * (build → append/delete → compact → refit): frozen centroids
    * degrade as the stored corpus drifts from the fitted one, so a
    * deployment refits once the drifted fraction (appended + deleted
    * over the current live count) exceeds `maxDrift` — the FAISS
    * re-train rule of thumb. Pure 1-row arithmetic: no corpus scan,
    * free to poll from an ingest loop. False for a pre-manifest
    * index (unknown drift is the caller's policy call, and every
    * serving contract still holds under frozen centroids — drift
    * costs recall headroom, never correctness). */
  def needsRefit(spark: SparkSession, dir: String,
                 maxDrift: Double = 0.25): Boolean =
    readManifest(spark, dir).exists { case (b, a, d) =>
      val live = math.max(1L, b + a - d)
      (a + d).toDouble / live > maxDrift
    }

  /** REFIT: re-fit centroids on the CURRENT live corpus and rebuild
    * the stored rows under them, staged COMPLETE to a sibling temp
    * dir and committed by ONE atomic directory rename into the next
    * version root (`dir/v_<N+1>` — see [[resolveRoot]]). A reader
    * racing the cutover resolves either version and gets vectors +
    * centroids from the same fit; a crash mid-refit leaves only the
    * staging dir, which the next refit cleans, and the committed
    * index is ALWAYS self-consistent — no recovery step. The
    * superseded version is garbage-collected after the commit
    * (post-commit; a crash between commit and GC leaves a stale-but-
    * ignored old root, re-collected by the next refit). Readers that
    * resolved the OLD root just before the GC hit the standard
    * parquet listing caveat any compaction has; everyone else is
    * unaffected. Serving after a refit equals a fresh
    * [[buildIvfqIndex]] on the same corpus — same function, so
    * exact; the manifest's drift folds back to zero and stale
    * tombstones are dropped. */
  def refitIvfq(corpus: DataFrame, dir: String, nlist: Int,
                seed: Long = 42L, initMode: String = "k-means||",
                sampleMod: Int = 1, maxIter: Int = 10,
                filesPerShard: Int = 2): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    val oldVersion = currentVersion(spark, dir)
    val oldRoot = resolveRoot(spark, dir)
    val tmp = s"$dir._refit_tmp"
    StoredShards.delete(spark, tmp) // crashed-refit leftovers
    val centroids = buildIvfqIndex(corpus, tmp, nlist, seed, initMode,
      sampleMod, maxIter, filesPerShard)
    StoredShards.rename(spark, tmp, s"$dir/v_${oldVersion + 1}")
    // post-commit GC of the superseded version
    if (oldRoot == dir)
      Seq(Vectors.path(dir), s"$dir/centroids", s"$dir/manifest",
        StoredShards.deletes(dir)).foreach(StoredShards.delete(spark, _))
    else StoredShards.delete(spark, oldRoot)
    centroids
  }

  // ---- IVF × int8 stored index ----

  /** `dir/vectors`: cid-partitioned int8 rows, in-file sorted by vec_id. */
  private val Vectors = StoredShards.Table("vectors",
    "vec_id BIGINT, qv ARRAY<TINYINT>, scale DOUBLE, cid INT", "cid", "vec_id", "vec_id")

  /** The stored row form: int8-quantize, then assign each vector's
    * cell from its QUANTIZED form (the `IvfqLayoutSpec` rule, and the
    * same argmax [[Similarity.ivfqRerank]] falls back to when a cid
    * column is absent) — build and append share this one function, so
    * an appended index is row-identical to a rebuild under the same
    * centroids. */
  private def ivfqRows(vecs: DataFrame,
                       centroids: Array[Array[Double]]): DataFrame =
    Similarity.quantizedCorpus(vecs)
      .withColumn("qcv", transform(col("qv"), q => q.cast("double")))
      .withColumn("cs", graft.functions.CentroidCosines.of(col("qcv"), centroids))
      .withColumn("cid", expr("array_position(cs, array_max(cs))").cast("int"))
      .select(col("vec_id"), col("qv"), col("scale"), col("cid"))

  /** Fit + quantize + store: `dir/vectors` (cid-partitioned int8
    * index) + `dir/centroids`. Returns the fitted centroids for
    * callers that keep serving in-session. */
  def buildIvfqIndex(corpus: DataFrame, dir: String, nlist: Int,
                     seed: Long = 42L, initMode: String = "k-means||",
                     sampleMod: Int = 1, maxIter: Int = 10,
                     filesPerShard: Int = 2): Array[Array[Double]] = {
    dropVersionRoots(corpus.sparkSession, dir) // a rebuild supersedes every version
    val centroids = Similarity.kmeansCentroids(corpus, nlist, seed,
      maxIter = maxIter, initMode = initMode, sampleMod = sampleMod)
    writeCentroids(corpus.sparkSession, centroids, dir)
    Vectors.write(ivfqRows(corpus, centroids), dir, filesPerShard)
    writeManifest(corpus.sparkSession, dir, corpus.count(), 0L, 0L)
    centroids
  }

  /** Incremental append: quantize the batch, assign against the
    * FROZEN stored centroids, add the rows as new files inside their
    * cid partitions. No existing file is listed or rewritten;
    * O(batch) end to end. */
  def appendIvfq(batch: DataFrame, dir: String,
                 filesPerShard: Int = 2): Unit = {
    val root = resolveRoot(batch.sparkSession, dir)
    val centroids = readCentroids(batch.sparkSession, root)
    // the manifest's appended count rides the write job as an
    // observed metric — no second pass over the batch just to count
    val obs = org.apache.spark.sql.Observation()
    Vectors.append(ivfqRows(batch, centroids).observe(obs, count(lit(1)).as("n")),
      root, filesPerShard)
    bumpManifest(batch.sparkSession, root,
      appended = obs.get("n").asInstanceOf[Long], deleted = 0L)
  }

  /** COMPACTION for [[appendIvfq]]'s file growth — the IVF twin of
    * [[Retrieval.compactIndex]]: each append adds ≤`filesPerShard`
    * files per occupied cell, so a long ingest run accumulates small
    * files; this rewrites ONLY the cells whose file count exceeds
    * `maxFilesPerCell` (driver-side dir listing, no rows read),
    * staged to a sibling temp dir and swapped per-directory
    * ([[StoredShards.compact]]), leaving every below-threshold
    * cell's files byte-identical. Rows are content-identical before
    * and after (same (vec_id, qv, scale, cid) rows, re-sorted by
    * vec_id in ≤`filesPerShard` files), so served results cannot
    * change. The graph index needs no analogue: [[appendGraph]]
    * already rewrites its touched buckets wholesale, so its file
    * counts never grow. Returns the compacted cids. */
  def compactIvfq(spark: SparkSession, dir: String,
                  filesPerShard: Int = 2,
                  maxFilesPerCell: Int = 8): Seq[Int] =
    StoredShards.compact(spark, Vectors, resolveRoot(spark, dir), filesPerShard,
      maxFilesPerCell)

  /** Serve IVF×int8 top-k entirely from the stored index: int8 stage
    * 1 scans `dir/vectors` (pre-assigned cid → directory-pruned),
    * centroids come from the sidecar, and only the bounded re-rank
    * candidates touch `exactCorpus`'s float vectors. Tombstoned rows
    * ([[deleteVectors]]) are masked by an anti-join BEFORE
    * stage 1, so a deleted vector can neither be returned nor
    * displace a live candidate — served results are IDENTICAL to a
    * rebuild over the surviving corpus under the same centroids
    * (surviving rows are row-identical either way). */
  def ivfqTopKFromPath(spark: SparkSession, dir: String,
                       exactCorpus: DataFrame, queries: DataFrame, k: Int,
                       nProbe: Int = 4, rerank: Int = 4): DataFrame = {
    // ONE resolution for the whole call: vectors, centroids, and
    // tombstones all come from the same committed version even if a
    // refit commits mid-call
    val root = resolveRoot(spark, dir)
    val centroids = readCentroids(spark, root)
    val stored = StoredShards.mask(Vectors.read(spark, root), root, "vec_id")
    val exact = exactCorpus.select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("cv"))
      .withColumn("cn", VectorOps.l2Norm(col("cv")))
    Similarity.ivfqRerank(stored, exact, queries, centroids, k, nProbe, rerank)
  }

  // ---- tombstone deletes ----

  /** TOMBSTONE DELETE, shared by both stored-index families:
    * `dir/deletes` gains one small file of `vec_id` rows per batch
    * ([[StoredShards.tombstone]]) and no index file is rewritten.
    * Serving masks tombstones with an anti-join;
    * [[purgeIvfqDeletes]] / [[purgeGraphDeletes]] fold them into a
    * physical rewrite of only the shards that hold deleted rows.
    *
    * Membership exactness (a nonexistent id, or a replay of a batch
    * whose tombstones a purge has since drained, must not bump
    * n_deleted — else [[needsRefit]]'s drift fraction drifts itself):
    * the IVF family probes `vectors`; the graph family probes the
    * `nodes` sidecar, which tracks the LIVE node set exactly — edges
    * alone cannot, because [[purgeGraphDeletes]] can consolidate a
    * still-servable node out of the edge table entirely. A legacy
    * graph index without `nodes` falls back to tombstoning the whole
    * fresh batch: an unprovable id must still be masked (discarding
    * it would keep serving a vector the caller revoked), at the cost
    * of possible drift over-count on a replay-after-purge.
    *
    * Revocation-sized batches take a driver-localized probe; bulk
    * erasures past [[StoredShards.BulkThreshold]] ids a distributed
    * semi-join staged on disk, so no id list ever rides the driver. */
  def deleteVectors(ids: DataFrame, dir: String): Unit = {
    val spark = ids.sparkSession
    val root = resolveRoot(spark, dir)
    val members = Seq(Vectors, Nodes).find(t => StoredShards.exists(spark, t.path(root)))
      .map(_.read(spark, root).select(col("vec_id"), lit(0L)))
    val (n, _) = StoredShards.tombstone(ids, root, "vec_id", members)
    if (n > 0) bumpManifest(spark, root, appended = 0L, deleted = n)
  }

  /** Whether the index currently carries any tombstones — the 1-RPC
    * poll a maintenance valve uses to decide if a refit's input
    * corpus needs masking ([[liveRows]]) and a row store needs a
    * physical fold before its tombstone ledger is dropped. */
  def hasDeletes(spark: SparkSession, dir: String): Boolean =
    StoredShards.hasDeletes(spark, resolveRoot(spark, dir))

  /** PUBLIC tombstone mask: `rows` minus the index's current
    * tombstones — what a refit must be fed so deleted vectors cannot
    * resurrect into the rebuilt index (the refit drops the tombstone
    * ledger, so masking at serve time alone is not enough: the
    * refit's input IS the post-refit truth). */
  def liveRows(rows: DataFrame, dir: String,
               idCol: String = "vec_id"): DataFrame =
    StoredShards.mask(rows, resolveRoot(rows.sparkSession, dir), "vec_id", idCol)

  /** PHYSICAL PURGE of [[deleteVectors]] tombstones — the delete half
    * of the compaction valve ([[StoredShards.purge]]): only the cells
    * holding tombstoned rows are rewritten minus those rows (a cell
    * left empty is removed), and the drained tombstone file is dropped
    * last. Returns the purged cids. */
  def purgeIvfqDeletes(spark: SparkSession, dir: String,
                       filesPerShard: Int = 2): Seq[Int] = {
    val root = resolveRoot(spark, dir)
    StoredShards.purge(spark, root, "vec_id")(
      StoredShards.purgeShards(Vectors, root, _, filesPerShard))
  }

  /** UPSERT into the stored IVF×int8 index — replace-or-insert each
    * batch vector, the read-modify-write every re-embedding /
    * re-curation pipeline wants. Composition of the existing
    * lifecycle ops, in the one order that is exact: tombstone the
    * ids that already exist ([[deleteVectors]] — the membership
    * probe keeps genuinely-new ids out of the manifest), PURGE those
    * tombstones physically ([[purgeIvfqDeletes]] — required, not
    * optional: tombstones mask by vec_id, so appending a replacement
    * under a live tombstone would mask the NEW row too), then append
    * the batch under the frozen centroids ([[appendIvfq]]). Serving
    * afterwards equals a rebuild over (corpus minus replaced plus
    * batch) under the same centroids — every step individually
    * carries that parity. Cost: O(batch) plus a rewrite of only the
    * cells that held replaced rows; batch vec_ids must be unique.
    * Returns the physically rewritten cids (empty = pure insert).
    *
    * Execution: batches small enough to localize (≤
    * [[StoredShards.BulkThreshold]] ids, the [[deleteVectors]]
    * small-path discipline) run FUSED —
    * one id-pushed probe of the stored rows, then ONE staged swap
    * that writes (touched-cell survivors ∪ quantized batch) and
    * drains any live tombstones in the same pass. End state, the
    * returned cids, and both manifest counters are identical to the
    * three-op composition; what the fusion removes is the composed
    * path's fixed per-op cost (tombstone sidecar write→read→delete
    * plus two extra swap writes — measured ~1.5 s of a 6.9 s
    * lifecycle key at sf0.1, paid TWICE by the idempotent-replay
    * contract). Larger batches (or an oversized tombstone sidecar)
    * take the composed path unchanged: no id list ever rides the
    * driver. */
  def upsertIvfq(batch: DataFrame, dir: String,
                 filesPerShard: Int = 2): Seq[Int] = {
    val spark = batch.sparkSession
    val root = resolveRoot(spark, dir)
    val bulk = StoredShards.BulkThreshold
    val ids = batch.select(col("vec_id").cast("long").as("vec_id"))
      .distinct().limit(bulk + 1).collect().map(_.getLong(0))
    val tombs: Array[Long] =
      if (ids.length > bulk) Array(0L) // forced fallback below
      else if (!StoredShards.hasDeletes(spark, root)) Array.empty
      else StoredShards.tombstones(spark, root, "vec_id")("vec_id")
        .limit(bulk + 1).collect().map(_.getLong(0))
    if (ids.length > bulk || tombs.length > bulk) {
      deleteVectors(batch.select(col("vec_id")), dir)
      val purged = purgeIvfqDeletes(spark, dir, filesPerShard)
      appendIvfq(batch, dir, filesPerShard)
      return purged
    }
    val centroids = readCentroids(spark, root)
    val batchRows = ivfqRows(batch, centroids)
    val bCids = batchRows.select(col("cid")).distinct()
      .collect().map(_.getInt(0))
    val idSet = ids.toSet
    val tombSet = tombs.toSet
    val deadLits = (ids ++ tombs).distinct.toSeq.map(Long.box)
    val stored = Vectors.read(spark, root)
    // one pushed probe: which cells hold a dead row, and which batch
    // ids are live members (the manifest's deleted counter — batch
    // ids under an existing tombstone were already counted by the
    // delete that wrote it)
    val deadRows = stored.filter(col("vec_id").isin(deadLits: _*))
      .select(col("vec_id"), col("cid")).collect()
    val touched = deadRows.map(_.getInt(1)).distinct.sorted
    val nReplaced = deadRows.iterator.map(_.getLong(0))
      .filter(id => idSet(id) && !tombSet(id)).toSet.size.toLong
    val allCells = (touched ++ bCids).distinct.sorted
    val kept = stored.filter(col("cid").isin(allCells.map(Int.box): _*))
      .filter(!col("vec_id").isin(deadLits: _*))
    val obs = org.apache.spark.sql.Observation()
    Vectors.swap(kept.unionByName(batchRows.observe(obs, count(lit(1)).as("n"))),
      root, allCells.toSeq, filesPerShard, dropDrained = true)
    StoredShards.delete(spark, StoredShards.deletes(root))
    bumpManifest(spark, root, appended = obs.get("n").asInstanceOf[Long],
      deleted = nReplaced)
    touched.toSeq
  }

  // ---- graph stored index ----

  /** `dir/edges`: (src, dst, score) partitioned by
    * `bucket = pmod(hash(src), nBuckets)`, in-file sorted by src; a
    * tombstone on either end kills an edge. */
  private val Edges = StoredShards.Table("edges",
    "src BIGINT, dst BIGINT, score DOUBLE, bucket INT", "bucket", "src", "src", "dst")

  /** The graph family's exact LIVE-NODE membership sidecar,
    * `dir/nodes` ([[StoredShards.members]]), bucketed like `edges` so
    * every maintenance touch is per-bucket, never O(corpus). The edge
    * table CANNOT serve as a membership source: [[purgeGraphDeletes]]
    * consolidation can leave a still-servable node (it seeds from the
    * corpus at serve time) with no edge at all, and a delete of such
    * a node must still tombstone it. Build resets the sidecar;
    * [[appendGraph]] appends the batch's ids; [[purgeGraphDeletes]]
    * rewrites only the buckets that held a deleted id. */
  private val Nodes = StoredShards.members("nodes", "vec_id")

  /** Per-src top-g over candidate edges; max(score) per (src, dst)
    * keeps the merge deterministic when an edge arrives twice. */
  private def rerank(g: Int)(edges: DataFrame): DataFrame =
    edges.groupBy(col("bucket"), col("src"), col("dst"))
      .agg(max(col("score")).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("src")).orderBy(desc("score"), col("dst"))))
      .filter(col("rank") <= g)

  /** Fit + k-NN-graph build + store: `dir/edges` (src-hash-bucketed)
    * + `dir/nodes` (exact live-membership sidecar) + `dir/centroids`
    * (the traversal's seed cells). Returns the centroids for
    * in-session callers. */
  def buildGraphIndex(corpus: DataFrame, dir: String, g: Int = 8,
                      nlist: Int = 16, refineRounds: Int = 1,
                      randPerVec: Int = 4, seed: Long = 42L,
                      initMode: String = "k-means||", sampleMod: Int = 1,
                      nBuckets: Int = 16,
                      filesPerShard: Int = 2,
                      spillCells: Int = 2): Array[Array[Double]] = {
    dropVersionRoots(corpus.sparkSession, dir) // a rebuild supersedes every version
    val centroids = Similarity.kmeansCentroids(corpus, nlist, seed,
      initMode = initMode, sampleMod = sampleMod)
    writeCentroids(corpus.sparkSession, centroids, dir)
    val n = corpus.count()
    Similarity.withGraph(corpus, centroids, n, spillCells, g, refineRounds,
        randPerVec, seed) { (_, edges) =>
      try {
        Edges.write(edges.withColumn("bucket", pmod(hash(col("src")), lit(nBuckets))),
          dir, filesPerShard)
        StoredShards.writeMembers(Nodes, corpus.select(col("vec_id")), dir, nBuckets,
          append = false)
        writeManifest(corpus.sparkSession, dir, n, 0L, 0L)
        centroids
      } finally Materialize.release(edges)
    }
  }

  /** Serve graph top-k entirely from the stored index (edges + the
    * centroid sidecar); `corpus` is the full-precision vector store
    * the traversal scores against. Tombstoned nodes
    * ([[deleteVectors]]) are masked on BOTH traversal inputs: the
    * beam never expands FROM a deleted node (its out-edges are
    * anti-joined away) and never scores TO one (the result side of
    * each hop is masked), matching the rebuild-minus-deleted
    * semantics up to graph-approximation — [[purgeGraphDeletes]]
    * later re-stitches connectivity physically. */
  def graphTopKFromPath(spark: SparkSession, dir: String,
                        corpus: DataFrame, queries: DataFrame, k: Int,
                        beam: Int = 24, hops: Int = 2,
                        seedProbe: Int = 2): DataFrame = {
    val root = resolveRoot(spark, dir)
    val centroids = readCentroids(spark, root)
    val edges = StoredShards.mask(Edges.read(spark, root).select(col("src"), col("dst")),
      root, "vec_id", "src", "dst")
    val live = StoredShards.mask(corpus, root, "vec_id")
    Similarity.graphTopKFromIndex(edges, live, queries, k, centroids,
      beam, hops, seedProbe)
  }

  /** PHYSICAL PURGE of graph-index tombstones — the DiskANN delete
    * consolidation rule: a deleted node's in-neighbors INHERIT its
    * out-neighbors (stitch src→del→dst into a src→dst candidate, so
    * paths THROUGH the deleted node survive its removal), candidate
    * scores are recomputed exactly against `corpus`, and each
    * affected src re-ranks to its top-g over surviving ∪ stitched
    * edges. Only buckets holding an edge that touches a tombstoned
    * node are rewritten (found by a (src, dst)-pruned scan);
    * untouched buckets survive byte-identical; the drained tombstone
    * file is dropped last. O(deleted-degree² + touched buckets),
    * never O(corpus). Returns the purged bucket ids. */
  def purgeGraphDeletes(spark: SparkSession, dir: String, corpus: DataFrame,
                        g: Int = 8, nBuckets: Int = 16,
                        filesPerShard: Int = 2): Seq[Int] = {
    val root = resolveRoot(spark, dir)
    StoredShards.purge(spark, root, "vec_id", Nodes)(dels =>
      StoredShards.purgeShards(Edges, root, dels, filesPerShard,
        Some(stitch(Edges.read(spark, root), dels, corpus, nBuckets)), rerank(g)))
  }

  /** The DiskANN stitch: each in-neighbor of a deleted node adopts
    * its surviving out-neighbors as candidate edges, scored exactly
    * against `corpus`, in the src's bucket. */
  private def stitch(stored: DataFrame, dels: StoredShards.Dels, corpus: DataFrame,
                     nBuckets: Int): DataFrame = {
    val into = stored.join(dels("dst"), Seq("dst"))
      .select(col("src"), col("dst").as("mid"))
      .join(dels("src"), Seq("src"), "left_anti")
    val outof = stored.join(dels("src"), Seq("src"))
      .select(col("src").as("mid"), col("dst"))
      .join(dels("dst"), Seq("dst"), "left_anti")
    val v = corpus.select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("cv"))
      .withColumn("cn", VectorOps.l2Norm(col("cv")))
    into.join(outof, Seq("mid"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
      .join(v.select(col("vec_id").as("src"), col("cv").as("sv"),
        col("cn").as("sn")), Seq("src"))
      .join(v.select(col("vec_id").as("dst"), col("cv").as("dv"),
        col("cn").as("dn")), Seq("dst"))
      .select(col("src"), col("dst"),
        when(col("sn") * col("dn") > 0,
          VectorOps.dotArr(col("sv"), col("dv")) / (col("sn") * col("dn")))
          .otherwise(lit(-1.0)).as("score"))
      .withColumn("bucket", pmod(hash(col("src")), lit(nBuckets)))
  }

  /** UPSERT into the stored graph index — the [[upsertIvfq]] twin,
    * same composition and same ordering constraint (the purge must
    * land between delete and append, because tombstones mask by
    * vec_id and would hide the replacement too): tombstone the
    * existing ids, physically consolidate them out of the graph
    * ([[purgeGraphDeletes]] — in-neighbors inherit out-neighbors, so
    * connectivity survives the removal), then wire the batch in via
    * insert-as-search against the SURVIVING corpus
    * ([[appendGraph]]). `oldCorpus` is the pre-upsert vector store
    * (old versions included — the survivors are derived here).
    * Returns the consolidated bucket ids (empty = pure insert). */
  def upsertGraph(batch: DataFrame, oldCorpus: DataFrame, dir: String,
                  g: Int = 8, beam: Int = 24, hops: Int = 2,
                  seedProbe: Int = 2, nBuckets: Int = 16,
                  filesPerShard: Int = 2): Seq[Int] = {
    val spark = batch.sparkSession
    val survivors = oldCorpus
      .join(batch.select(col("vec_id")), Seq("vec_id"), "left_anti")
    deleteVectors(batch.select(col("vec_id")), dir)
    val purged = purgeGraphDeletes(spark, dir, survivors, g, nBuckets,
      filesPerShard)
    appendGraph(batch, survivors, dir, g, beam, hops, seedProbe,
      nBuckets, filesPerShard)
    purged
  }

  /** Incremental graph append — an INSERT IS A SEARCH (the
    * HNSW/DiskANN insertion rule composed from the existing serving
    * path): each batch vector's top-g neighbors come from
    * [[Similarity.graphTopKFromIndex]] over the STORED edges, those
    * become its forward edges, their reversals become shortcut edges
    * into the affected old sources, and every TOUCHED src-hash bucket
    * is re-ranked (per-src top-g over old ∪ new edges — unaffected
    * sources in a touched bucket re-rank to themselves) and rewritten
    * via dynamic partition overwrite. Untouched buckets' files are
    * never listed or rewritten, so the append costs
    * O(|batch|·g·search + touched-bucket rows) — independent of the
    * corpus once nBuckets scales with it.
    *
    * `oldCorpus` is the index's existing vector store (the search
    * runs against it); batch vec_ids must be new. The centroid
    * sidecar is left as fitted — new vectors seed from the frozen
    * cells at serve time, which is exactly the rebuild-with-frozen-
    * centroids semantics (`AnnAppendSpec` gates the served recall
    * against the full-rebuild contract). The corpus rows themselves
    * live outside the index (callers append them with
    * [[graft.sources.CorpusSink.appendShards]] like any table). */
  def appendGraph(batch: DataFrame, oldCorpus: DataFrame, dir: String,
                  g: Int = 8, beam: Int = 24, hops: Int = 2,
                  seedProbe: Int = 2, nBuckets: Int = 16,
                  filesPerShard: Int = 2): Unit = {
    val spark = batch.sparkSession
    val root = resolveRoot(spark, dir)
    val centroids = readCentroids(spark, root)
    val stored = Edges.read(spark, root)
    // 1. insert-as-search: top-g of each batch vector over the stored
    //    graph (eager inside, bounded |batch|·g output)
    val newFwd = Similarity.graphTopKFromIndex(
        stored.select(col("src"), col("dst")), oldCorpus, batch, g,
        centroids, beam, hops, seedProbe)
      .select(col("qid").as("src"), col("neighbor_id").as("dst"),
        col("score"))
    // 2. reverse shortcut edges: the found old nodes gain an edge to
    //    the newcomer (re-ranked below so no src exceeds g)
    val rev = newFwd.select(col("dst").as("src"), col("src").as("dst"),
      col("score"))
    val added = newFwd.unionByName(rev)
      .withColumn("bucket", pmod(hash(col("src")), lit(nBuckets)))
    // 3. touched buckets only: current rows ∪ added rows, per-src
    //    top-g re-rank. max(score) per (src, dst) keeps the merge
    //    deterministic when an added edge already exists.
    val touched = added.select(col("bucket")).distinct()
    val cur = stored.join(broadcast(touched), Seq("bucket"))
    Edges.refresh(rerank(g)(cur.unionByName(added)), root, filesPerShard)
    // membership sidecar gains the batch (legacy indexes without one
    // stay legacy — deleteVectors falls back to tombstone-all there)
    if (StoredShards.exists(spark, Nodes.path(root)))
      StoredShards.writeMembers(Nodes, batch.select(col("vec_id")), root, nBuckets,
        append = true)
    bumpManifest(spark, root, appended = batch.count(), deleted = 0L)
  }
}
