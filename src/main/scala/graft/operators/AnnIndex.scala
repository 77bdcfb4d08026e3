package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.VectorOps
import graft.sources.CorpusSink

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
  *    sidecar ([[deleteVectors]]).
  *  - IVF×int8 `dir/vectors`: (vec_id, qv array<tinyint>, scale,
  *    cid) cid-partitioned, in-file sorted by vec_id (the
  *    `IvfqLayoutSpec` form).
  *  - graph `dir/edges`: (src, dst, score, bucket) partitioned by
  *    `bucket = pmod(hash(src), nBuckets)`, in-file sorted by src
  *    (the `GraphLayoutSpec` form; serving reads (src, dst) only);
  *    `dir/nodes`: the exact live-membership sidecar (see
  *    [[writeNodes]]) — deletes probe it, because consolidation can
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
  private def dropVersionRoots(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p))
      fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.matches("v_\\d+"))
        .foreach(s => fs.delete(s.getPath, true))
  }

  private def currentVersion(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("v_\\d+"))
      .map(_.getPath.getName.stripPrefix("v_").toLong)
      .foldLeft(0L)(math.max)
  }

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
                     dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/centroids")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true) // parquet-vintage dir or stale file
    val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(fs.create(p, true), "UTF-8"))
    try centroids.zipWithIndex.foreach { case (c, i) =>
      out.println(s"${i + 1}\t" + c.iterator
        .map(d => java.lang.Long.toHexString(
          java.lang.Double.doubleToRawLongBits(d))).mkString(","))
    } finally out.close()
  }

  /** Load the sidecar back into the in-memory form every serving path
    * takes (array index i ↔ cid i+1). */
  def readCentroids(spark: SparkSession, dir: String): Array[Array[Double]] = {
    val p = new org.apache.hadoop.fs.Path(
      s"${resolveRoot(spark, dir)}/centroids")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).map { line =>
        val Array(cid, vec) = line.split("\t", 2)
        cid.toInt -> vec.split(",").map(h =>
          java.lang.Double.longBitsToDouble(
            java.lang.Long.parseUnsignedLong(h, 16)))
      }.toArray.sortBy(_._1).map(_._2)
    finally in.close()
  }

  // ---- drift manifest ----

  /** The 1-row drift ledger `dir/manifest` — (n_built, n_appended,
    * n_deleted): how far the stored corpus has moved from the one
    * the centroids were FITTED on. Build resets it; every append and
    * delete adds its batch count (a 1-row read + overwrite, no
    * corpus scan). [[needsRefit]] reads it; [[refitIvfq]] folds the
    * drift back to zero. */
  private def writeManifest(spark: SparkSession, dir: String,
                            built: Long, appended: Long,
                            deleted: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/manifest")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true) // parquet-vintage dir or stale file
    val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(fs.create(p, true), "UTF-8"))
    // 3 longs: plain driver FS IO, not a Spark job — the ledger is
    // 1-row by design and every lifecycle op bumps it
    try out.println(s"""{"n_built":$built,"n_appended":$appended,"n_deleted":$deleted}""")
    finally out.close()
  }

  private def readManifest(spark: SparkSession,
                           dir: String): Option[(Long, Long, Long)] = {
    val root = resolveRoot(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$root/manifest")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(p), "UTF-8"))
      val line = try in.readLine() finally in.close()
      val M = """\{"n_built":(-?\d+),"n_appended":(-?\d+),"n_deleted":(-?\d+)\}""".r
      line match {
        case M(b, a, d) => Some((b.toLong, a.toLong, d.toLong))
        case _ => None
      }
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
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val oldVersion = currentVersion(spark, dir)
    val oldRoot = resolveRoot(spark, dir)
    val tmp = s"$dir._refit_tmp"
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true) // crashed-refit leftovers
    val centroids = buildIvfqIndex(corpus, tmp, nlist, seed, initMode,
      sampleMod, maxIter, filesPerShard)
    val next = new org.apache.hadoop.fs.Path(dir, s"v_${oldVersion + 1}")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), next))
      throw new java.io.IOException(s"refit commit failed for $next")
    // post-commit GC of the superseded version
    if (oldRoot == dir)
      Seq("vectors", "centroids", "manifest", "deletes").foreach(part =>
        fs.delete(new org.apache.hadoop.fs.Path(dir, part), true))
    else fs.delete(new org.apache.hadoop.fs.Path(oldRoot), true)
    centroids
  }

  // ---- IVF × int8 stored index ----

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
    CorpusSink.writeParquet(ivfqRows(corpus, centroids), s"$dir/vectors",
      shardCol = "cid", sortCol = "vec_id", filesPerShard = filesPerShard)
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
    CorpusSink.appendShards(
      ivfqRows(batch, centroids).observe(obs, count(lit(1)).as("n")),
      s"$root/vectors",
      shardCol = "cid", sortCol = "vec_id", filesPerShard = filesPerShard)
    bumpManifest(batch.sparkSession, root,
      appended = obs.get("n").asInstanceOf[Long], deleted = 0L)
  }

  /** COMPACTION for [[appendIvfq]]'s file growth — the IVF twin of
    * [[Retrieval.compactIndex]]: each append adds ≤`filesPerShard`
    * files per occupied cell, so a long ingest run accumulates small
    * files; this rewrites ONLY the cells whose file count exceeds
    * `maxFilesPerCell` (driver-side dir listing, no rows read),
    * staged to a sibling temp dir and swapped per-directory
    * ([[CorpusSink.swapShards]]), leaving every below-threshold
    * cell's files byte-identical. Rows are content-identical before
    * and after (same (vec_id, qv, scale, cid) rows, re-sorted by
    * vec_id in ≤`filesPerShard` files), so served results cannot
    * change. The graph index needs no analogue: [[appendGraph]]
    * already rewrites its touched buckets wholesale, so its file
    * counts never grow. Returns the compacted cids. */
  def compactIvfq(spark: SparkSession, dir: String,
                  filesPerShard: Int = 2,
                  maxFilesPerCell: Int = 8): Seq[Int] = {
    val root = resolveRoot(spark, dir)
    val over = CorpusSink
      .oversizedShards(spark, s"$root/vectors", "cid", maxFilesPerCell)
      .map(_.toInt)
    if (over.nonEmpty) {
      val rows = spark.read.parquet(s"$root/vectors")
        .filter(col("cid").isin(over: _*))
        .select(col("vec_id"), col("qv"), col("scale"),
          col("cid").cast("int").as("cid"))
      CorpusSink.swapShards(rows, s"$root/vectors",
        over.map(c => s"cid=$c"), shardCol = "cid", sortCol = "vec_id",
        filesPerShard = filesPerShard)
    }
    over
  }

  /** Serve IVF×int8 top-k entirely from the stored index: int8 stage
    * 1 scans `dir/vectors` (pre-assigned cid → directory-pruned),
    * centroids come from the sidecar, and only the bounded re-rank
    * candidates touch `exactCorpus`'s float vectors. Tombstoned rows
    * ([[deleteIvfq]]) are masked by a broadcast anti-join BEFORE
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
    val stored = antiJoinDeletes(
      spark.read.parquet(s"$root/vectors"), root, "vec_id")
    val exact = exactCorpus.select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("cv"))
      .withColumn("cn", VectorOps.l2Norm(col("cv")))
    Similarity.ivfqRerank(stored, exact, queries, centroids, k, nProbe, rerank)
  }

  // ---- tombstone deletes ----

  /** The tombstone sidecar shared by both stored-index families:
    * `dir/deletes` holds one `vec_id` row per deleted vector, each
    * delete batch appended as its own small file — no index file is
    * rewritten (one column-pruned id-membership scan verifies the
    * batch against the stored rows). Serving masks tombstones with
    * a broadcast anti-join; [[purgeIvfqDeletes]] folds them into a
    * physical rewrite of only the cells that hold deleted rows.
    * Family-agnostic: the same sidecar masks an IVF×int8 index's
    * stored rows and a graph index's served results.
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
    * Batches up to `bulkThreshold` take the isin-pushed driver probe
    * (revocation traffic — bounded by design, same shape as
    * Retrieval.deleteIndex); larger batches (bulk erasure, GDPR-style
    * sweeps) switch to a distributed semi-join with an on-disk
    * staging localization, so no id list ever rides the driver or
    * the plan as a literal. */
  def deleteVectors(ids: DataFrame, dir: String,
                    bulkThreshold: Int = 10000): Unit = {
    val spark = ids.sparkSession
    val root = resolveRoot(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def part(name: String): Option[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$name")
      if (fs.exists(p)) Some(s"$root/$name") else None
    }
    val batch = ids.select(col("vec_id").cast("long").as("vec_id")).distinct()
    // limit probe instead of count-then-collect: one job decides the
    // path AND (on the small path) yields the full distinct id set,
    // driver-bounded at bulkThreshold+1 rows by construction
    val probe = batch.limit(bulkThreshold + 1).collect().map(_.getLong(0))
    if (probe.isEmpty) return
    val membership: Option[DataFrame] =
      part("vectors").map(p => spark.read.parquet(p).select(col("vec_id")))
        .orElse(part("nodes").map(p => spark.read.parquet(p).select(col("vec_id"))))
    if (probe.length <= bulkThreshold) {
      // small path: the fresh set is LOCALIZED on the driver before
      // the append — the lazy plan reads the very file the write
      // extends, so a recompute-after-write would see its own output
      import spark.implicits._
      val wanted = deletesPath(spark, root) match {
        case None => probe // no tombstones yet: nothing to anti-join
        case Some(_) =>
          antiJoinDeletes(probe.toSeq.toDF("vec_id"), root, "vec_id")
            .collect().map(_.getLong(0))
      }
      val fresh: Array[Long] =
        if (wanted.isEmpty) Array.empty
        else membership match {
          case Some(m) =>
            val lits = wanted.toSeq.map(Long.box)
            m.filter(col("vec_id").isin(lits: _*))
              .distinct().collect().map(_.getLong(0))
          case None =>
            // legacy graph (edges, no nodes) or pre-build: tombstone
            // the whole fresh batch — see the membership note above
            wanted
        }
      if (fresh.nonEmpty) {
        import spark.implicits._
        fresh.toSeq.toDF("vec_id")
          .coalesce(1).write.mode("append").parquet(s"$root/deletes")
        bumpManifest(spark, root, appended = 0L, deleted = fresh.length.toLong)
      }
    } else {
      // bulk path: anti-join away existing tombstones, semi-join the
      // membership source (a hash semi-join on vec_id — both sides
      // arbitrarily large), and localize ON DISK via a staging dir
      // instead of the driver, then fold the staged files into the
      // sidecar. Crash between stage and append leaves only an
      // overwritten-next-time staging dir.
      val wanted = antiJoinDeletes(batch, root, "vec_id")
      val fresh = membership match {
        case Some(m) => wanted.join(m, Seq("vec_id"), "left_semi")
        case None    => wanted
      }
      val stage = s"$root/_delete_stage"
      fresh.write.mode("overwrite").parquet(stage)
      val staged = spark.read.parquet(stage)
      val nFresh = staged.count()
      if (nFresh > 0) {
        staged.write.mode("append").parquet(s"$root/deletes")
        bumpManifest(spark, root, appended = 0L, deleted = nFresh)
      }
      fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    }
  }

  private def deletesPath(spark: SparkSession,
                          dir: String): Option[String] = {
    val root = resolveRoot(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$root/deletes")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(s"$root/deletes") else None
  }

  /** Whether the index currently carries any tombstones — the 1-RPC
    * poll a maintenance valve uses to decide if a refit's input
    * corpus needs masking ([[liveRows]]) and a row store needs a
    * physical fold before its tombstone ledger is dropped. */
  def hasDeletes(spark: SparkSession, dir: String): Boolean =
    deletesPath(spark, dir).isDefined

  /** PUBLIC tombstone mask: `rows` minus the index's current
    * tombstones — what a refit must be fed so deleted vectors cannot
    * resurrect into the rebuilt index (the refit drops the tombstone
    * ledger, so masking at serve time alone is not enough: the
    * refit's input IS the post-refit truth). */
  def liveRows(rows: DataFrame, dir: String,
               idCol: String = "vec_id"): DataFrame =
    antiJoinDeletes(rows, dir, idCol)

  /** LEFT ANTI mask against the tombstone sidecar (no-op when no
    * delete has ever run). Revocation-sized tombstone sets broadcast
    * (the hint sits between the scan and the cell-probe join,
    * leaving cid partition pruning intact); a sidecar grown past
    * `BroadcastDeletesBytes` by bulk erasures drops the hint and
    * hash-anti-joins instead — the file-size poll is one driver RPC,
    * and forcing a multi-GB broadcast would be the same 100 TB trap
    * the bulk path's isin guard removed. */
  private val BroadcastDeletesBytes = 32L << 20

  /** A tombstone-derived join side, broadcast-hinted only while the
    * sidecar's on-disk footprint is within `BroadcastDeletesBytes` —
    * the same size poll [[antiJoinDeletes]] applies, shared with the
    * PURGE paths so a bulk (GDPR-scale) delete set never rides the
    * plan as a forced multi-GB broadcast; past the threshold the
    * joins run as plain hash semi-/anti-joins. */
  private def hintBySize(spark: SparkSession, sidecar: String,
                         df: DataFrame): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(sidecar)
    val small = hp.getFileSystem(spark.sessionState.newHadoopConf())
      .getContentSummary(hp).getLength <= BroadcastDeletesBytes
    if (small) broadcast(df) else df
  }

  private[operators] def antiJoinDeletes(rows: DataFrame, dir: String,
                                         idCol: String): DataFrame =
    deletesPath(rows.sparkSession, dir) match {
      case Some(p) =>
        val dels = rows.sparkSession.read.parquet(p)
          .select(col("vec_id").as(idCol)).distinct()
        val hp = new org.apache.hadoop.fs.Path(p)
        val small = hp.getFileSystem(
            rows.sparkSession.sessionState.newHadoopConf())
          .getContentSummary(hp).getLength <= BroadcastDeletesBytes
        rows.join(if (small) broadcast(dels) else dels, Seq(idCol),
          "left_anti")
      case None => rows
    }

  /** PHYSICAL PURGE of [[deleteIvfq]] tombstones — the delete half of
    * the compaction valve. A column-pruned (vec_id, cid) scan finds
    * the cells that hold tombstoned rows (cid is a partition value,
    * so the scan reads one long column); ONLY those cells are
    * rewritten minus the deleted rows ([[CorpusSink.swapShards]] —
    * below-threshold untouched cells survive byte-identical), and the
    * drained tombstone file is dropped last, so a crash between the
    * two steps leaves a correct (still-masked) index. Served results
    * cannot change: the anti-join was already hiding exactly these
    * rows. Returns the purged cids. */
  def purgeIvfqDeletes(spark: SparkSession, dir: String,
                       filesPerShard: Int = 2): Seq[Int] = {
    val root = resolveRoot(spark, dir)
    deletesPath(spark, root) match {
      case None => Seq.empty
      case Some(p) =>
        val dels = hintBySize(spark, p,
          spark.read.parquet(p).select(col("vec_id")).distinct())
        val stored = spark.read.parquet(s"$root/vectors")
        val touched = stored.join(dels, Seq("vec_id"))
          .select(col("cid").cast("int")).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        if (touched.nonEmpty) {
          val kept = stored.filter(col("cid").isin(touched: _*))
            .join(dels, Seq("vec_id"), "left_anti")
            .select(col("vec_id"), col("qv"), col("scale"),
              col("cid").cast("int").as("cid"))
          CorpusSink.swapShards(kept, s"$root/vectors",
            touched.map(c => s"cid=$c"), shardCol = "cid",
            sortCol = "vec_id", filesPerShard = filesPerShard,
            dropDrained = true) // a fully-deleted cell's dir is removed
        }
        val delP = new org.apache.hadoop.fs.Path(p)
        delP.getFileSystem(spark.sessionState.newHadoopConf())
          .delete(delP, true)
        touched
    }
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
    * Execution: batches small enough to localize (≤ `bulkThreshold`
    * ids, the [[deleteVectors]] small-path discipline) run FUSED —
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
                 filesPerShard: Int = 2,
                 bulkThreshold: Int = 10000): Seq[Int] = {
    val spark = batch.sparkSession
    val root = resolveRoot(spark, dir)
    val ids = batch.select(col("vec_id").cast("long").as("vec_id"))
      .distinct().limit(bulkThreshold + 1).collect().map(_.getLong(0))
    val tombs: Array[Long] =
      if (ids.length > bulkThreshold) Array(0L) // forced fallback below
      else deletesPath(spark, root) match {
        case Some(p) => spark.read.parquet(p).select(col("vec_id"))
          .distinct().limit(bulkThreshold + 1).collect().map(_.getLong(0))
        case None => Array.empty
      }
    if (ids.length > bulkThreshold || tombs.length > bulkThreshold) {
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
    val stored = spark.read.parquet(s"$root/vectors")
    // one pushed probe: which cells hold a dead row, and which batch
    // ids are live members (the manifest's deleted counter — batch
    // ids under an existing tombstone were already counted by the
    // delete that wrote it)
    val deadRows = stored.filter(col("vec_id").isin(deadLits: _*))
      .select(col("vec_id"), col("cid").cast("int").as("cid")).collect()
    val touched = deadRows.map(_.getInt(1)).distinct.sorted
    val nReplaced = deadRows.iterator.map(_.getLong(0))
      .filter(id => idSet(id) && !tombSet(id)).toSet.size.toLong
    val allCells = (touched ++ bCids).distinct.sorted
    val kept = stored.filter(col("cid").isin(allCells.map(Int.box): _*))
      .filter(!col("vec_id").isin(deadLits: _*))
      .select(col("vec_id"), col("qv"), col("scale"),
        col("cid").cast("int").as("cid"))
    val obs = org.apache.spark.sql.Observation()
    CorpusSink.swapShards(
      kept.unionByName(batchRows
        .observe(obs, count(lit(1)).as("n"))),
      s"$root/vectors", allCells.map(c => s"cid=$c").toSeq,
      shardCol = "cid", sortCol = "vec_id",
      filesPerShard = filesPerShard, dropDrained = true)
    deletesPath(spark, root).foreach { p =>
      val delP = new org.apache.hadoop.fs.Path(p)
      delP.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(delP, true)
    }
    bumpManifest(spark, root, appended = obs.get("n").asInstanceOf[Long],
      deleted = nReplaced)
    touched.toSeq
  }

  // ---- graph stored index ----

  /** The graph family's exact LIVE-NODE membership sidecar,
    * `dir/nodes`: one `vec_id` row per live node, bucketed by
    * `nbucket = pmod(hash(vec_id), nBuckets)` and in-file sorted —
    * the same bounded layout as `edges`, so every maintenance touch
    * is per-bucket, never O(corpus). The edge table CANNOT serve as
    * a membership source: [[purgeGraphDeletes]] consolidation can
    * leave a still-servable node (it seeds from the corpus at serve
    * time) with no edge at all, and a delete of such a node must
    * still tombstone it. Build resets the sidecar; [[appendGraph]]
    * appends the batch's ids as new bucket files;
    * [[purgeGraphDeletes]] rewrites only the buckets that held a
    * deleted id ([[CorpusSink.swapShards]], drained buckets
    * dropped). */
  private def writeNodes(ids: DataFrame, dir: String, nBuckets: Int,
                         append: Boolean): Unit = {
    val rows = ids.select(col("vec_id"))
      .withColumn("nbucket", pmod(hash(col("vec_id")), lit(nBuckets)))
    if (append)
      CorpusSink.appendShards(rows, s"$dir/nodes", shardCol = "nbucket",
        sortCol = "vec_id", filesPerShard = 1)
    else
      CorpusSink.writeParquet(rows, s"$dir/nodes", shardCol = "nbucket",
        sortCol = "vec_id", filesPerShard = 1)
  }

  /** Drop tombstoned ids from the `nodes` sidecar — only the buckets
    * holding a deleted id are rewritten; a bucket whose every node
    * died is removed. */
  private def purgeNodes(spark: SparkSession, root: String,
                         dels: DataFrame): Unit = {
    // `dels` arrives broadcast-hinted or not per the caller's
    // sidecar-size poll (hintBySize) — no unconditional broadcast here
    val p = new org.apache.hadoop.fs.Path(s"$root/nodes")
    if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
      return // legacy index without the sidecar
    val nodes = spark.read.parquet(s"$root/nodes")
    val touched = nodes.join(dels, Seq("vec_id"), "left_semi")
      .select(col("nbucket").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (touched.nonEmpty) {
      val kept = nodes.filter(col("nbucket").isin(touched: _*))
        .join(dels, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("nbucket").cast("int").as("nbucket"))
      CorpusSink.swapShards(kept, s"$root/nodes",
        touched.map(b => s"nbucket=$b"), shardCol = "nbucket",
        sortCol = "vec_id", filesPerShard = 1, dropDrained = true)
    }
  }

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
        CorpusSink.writeParquet(
          edges.withColumn("bucket", pmod(hash(col("src")), lit(nBuckets))),
          s"$dir/edges", shardCol = "bucket", sortCol = "src",
          filesPerShard = filesPerShard)
        writeNodes(corpus.select(col("vec_id")), dir, nBuckets, append = false)
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
    val edges = antiJoinDeletes(antiJoinDeletes(
        spark.read.parquet(s"$root/edges").select(col("src"), col("dst")),
        root, "src").withColumnRenamed("dst", "vec_id"), root, "vec_id")
      .withColumnRenamed("vec_id", "dst")
    val live = antiJoinDeletes(corpus, root, "vec_id")
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
    deletesPath(spark, root) match {
      case None => Seq.empty
      case Some(p) =>
        val dels = hintBySize(spark, p,
          spark.read.parquet(p).select(col("vec_id")).distinct())
        val stored = spark.read.parquet(s"$root/edges")
        val delKeys = dels.withColumnRenamed("vec_id", "__del")
        // stitch: in-neighbors of a deleted node adopt its out-edges
        val into = stored
          .join(delKeys, col("dst") === col("__del"))
          .select(col("src"), col("dst").as("mid"))
          .join(delKeys, col("src") === col("__del"), "left_anti")
        val outof = stored
          .join(delKeys, col("src") === col("__del"))
          .select(col("src").as("mid"), col("dst"))
          .join(delKeys, col("dst") === col("__del"), "left_anti")
        val v = corpus.select(col("vec_id"),
            VectorOps.asDoubleArray(col("embedding")).as("cv"))
          .withColumn("cn", VectorOps.l2Norm(col("cv")))
        val stitched = into.join(outof, Seq("mid"))
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
        // touched buckets: any edge touching a tombstone, plus every
        // stitched edge's src bucket. Two broadcast HASH semi-joins,
        // not one OR-condition join — an OR predicate can't hash and
        // would run as a broadcast nested loop (n·g × |dels|
        // comparisons at scale).
        val touchedDf = stored
          .join(delKeys, col("src") === col("__del"), "left_semi")
          .select(col("bucket").cast("int"))
          .union(stored
            .join(delKeys, col("dst") === col("__del"), "left_semi")
            .select(col("bucket").cast("int")))
          .union(stitched.select(col("bucket").cast("int")))
          .distinct()
        val touched = touchedDf.collect().map(_.getInt(0)).toSeq.sorted
        if (touched.nonEmpty) {
          val survivors = stored.filter(col("bucket").isin(touched: _*))
            .join(delKeys, col("src") === col("__del"), "left_anti")
            .join(delKeys, col("dst") === col("__del"), "left_anti")
            .select(col("src"), col("dst"), col("score"),
              col("bucket").cast("int").as("bucket"))
          val merged = survivors
            .unionByName(stitched.filter(col("bucket").isin(touched: _*)))
            .groupBy(col("bucket"), col("src"), col("dst"))
            .agg(max(col("score")).as("score"))
            .withColumn("rank", row_number().over(
              Window.partitionBy(col("src")).orderBy(desc("score"), col("dst"))))
            .filter(col("rank") <= g)
            .select(col("src"), col("dst"), col("score"), col("bucket"))
          CorpusSink.swapShards(merged, s"$root/edges",
            touched.map(b => s"bucket=$b"), shardCol = "bucket",
            sortCol = "src", filesPerShard = filesPerShard,
            dropDrained = true) // a bucket whose every edge died is removed
        }
        purgeNodes(spark, root, dels) // membership sidecar loses the ids too
        val delP = new org.apache.hadoop.fs.Path(p)
        delP.getFileSystem(spark.sessionState.newHadoopConf())
          .delete(delP, true)
        touched
    }
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
    * [[CorpusSink.appendShards]] like any table). */
  def appendGraph(batch: DataFrame, oldCorpus: DataFrame, dir: String,
                  g: Int = 8, beam: Int = 24, hops: Int = 2,
                  seedProbe: Int = 2, nBuckets: Int = 16,
                  filesPerShard: Int = 2): Unit = {
    val spark = batch.sparkSession
    val root = resolveRoot(spark, dir)
    val centroids = readCentroids(spark, root)
    val stored = spark.read.parquet(s"$root/edges")
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
      .select(col("src"), col("dst"), col("score"),
        col("bucket").cast("int").as("bucket"))
    val merged = cur.unionByName(added)
      .groupBy(col("bucket"), col("src"), col("dst"))
      .agg(max(col("score")).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("src")).orderBy(desc("score"), col("dst"))))
      .filter(col("rank") <= g)
      .select(col("src"), col("dst"), col("score"), col("bucket"))
    CorpusSink.refreshShards(merged, s"$root/edges", shardCol = "bucket",
      sortCol = "src", filesPerShard = filesPerShard)
    // membership sidecar gains the batch (legacy indexes without one
    // stay legacy — deleteVectors falls back to tombstone-all there)
    val fsRoot = new org.apache.hadoop.fs.Path(s"$root/nodes")
    if (fsRoot.getFileSystem(spark.sessionState.newHadoopConf()).exists(fsRoot))
      writeNodes(batch.select(col("vec_id")), root, nBuckets, append = true)
    bumpManifest(spark, root, appended = batch.count(), deleted = 0L)
  }
}
