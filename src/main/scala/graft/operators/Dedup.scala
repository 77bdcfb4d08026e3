package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import org.apache.spark.sql.graftbridge.Bridge

import graft.Materialize
import graft.functions.VectorOps

/** Deduplication operators for LLM training-data pipelines:
  * exact (hash group-by), MinHash+LSH banding, SimHash, n-gram
  * Jaccard, embedding-cosine near-dup.
  *
  * Design for scale: the near-dup operators are built on per-row
  * kernels and explode → codegen'd hash aggregation, NOT nested
  * higher-order functions. Spark HOFs are `CodegenFallback`
  * (interpreted) and re-evaluate inner expressions per lambda
  * element, which turns nested token pipelines into O(n²) row work —
  * measured as a hang at sf0.001 before this design. Text shingles,
  * MinHash signatures and band keys come from ONE per-row kernel
  * ([[MinHash]]) with no shuffle; the pair operators do map-side
  * partial aggregation and shuffle only (doc_id)-keyed or
  * (band-bucket)-keyed rows — never a cross product.
  */
object Dedup {

  /** Exact dedup on the sha256 text digest: one row per distinct
    * content, keeping the smallest doc_id. Single hash-partitioned
    * groupBy on the digest; at 100 TB this is the canonical
    * shuffle-on-fingerprint dedup. */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), sha2(col("text"), 256).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Admission verdict labels — shared with the streaming twin
    * (`streaming.StreamingAdmission`) so batch and live ingest can
    * never drift apart on names or precedence. */
  val DupOfIndex = "dup_of_index"
  val DupInBatch = "dup_in_batch"
  val Novel = "novel"
  val NearDup = "near_dup"

  /** fp-membership view of a stored fingerprint index (dedup +
    * boolean marker) — the index prep both admission paths join. */
  def indexFps(index: DataFrame): DataFrame =
    index.select(col("fp")).distinct().withColumn("in_index", lit(true))

  /** Incremental exact dedup: classify a NEW batch of documents
    * against an existing corpus fingerprint INDEX, without re-reading
    * the corpus text — the re-crawl path at 100 TB (the index carries
    * fingerprints only; the already-curated corpus is never
    * re-scanned, only its fp column). Each batch doc becomes
    *  - `dup_of_index`  its fingerprint already exists in the index,
    *  - `dup_in_batch`  fingerprint is new but another batch doc with
    *                    a lower doc_id claims it,
    *  - `novel`         the batch's keeper for a new fingerprint
    * and `keep = (status = 'novel')` is the admission verdict.
    *
    * Scale shape: one left join keyed by fp (hash-shuffled on the
    * fingerprint; Catalyst broadcasts automatically when the index
    * side is small) plus a min-per-fp window over the BATCH only —
    * never a self-join of the corpus. The index should be the stored
    * `fp` output of [[exact]] from the previous curation run, so
    * repeated ingests are O(batch + index-join), not O(corpus). */
  def incremental(batch: DataFrame, index: DataFrame, fp: Column): DataFrame = {
    val b = batch.select(col("doc_id"), fp.as("fp"))
    val w = Window.partitionBy(col("fp"))
    b.join(indexFps(index), Seq("fp"), "left")
      .withColumn("status",
        when(col("in_index"), lit(DupOfIndex))
          .when(col("doc_id") === min(col("doc_id")).over(w), lit(Novel))
          .otherwise(lit(DupInBatch)))
      .select(col("doc_id"), col("fp"), col("status"),
        (col("status") === Novel).as("keep"))
  }

  /** Bloom-backed incremental admission — the BOUNDED-MEMORY twin of
    * [[incremental]]: instead of joining each ingest batch against
    * the stored fingerprint index (shuffle keyed by fp, state = the
    * whole index), the index is folded ONCE into a Bloom filter
    * (`expectedItems`/`fpp` sized; ~1.2 MB per million fps at 1%)
    * that BROADCASTS to the batch scan — admission becomes a
    * shuffle-free map over the batch plus the same one-window
    * within-batch claim. The trade is explicit and one-sided: a
    * Bloom filter has NO false negatives, so every true duplicate is
    * still caught (soundness preserved — the property dedup cannot
    * lose); a tunable `fpp` fraction of genuinely-novel docs is
    * wrongly dropped (bounded recall loss, checked as a contract in
    * `q_dedup_incr_bloom`). At 100 TB this is the difference between
    * re-shuffling every ingest against a trillion-row index and
    * probing a broadcast few-GB filter.
    *
    * `expectedItems` is required (a deployment knows its index
    * cardinality from metadata) so sizing never costs a count scan.
    * The probe is NOT a UDF: the filter is built over `xxhash64(fp)`
    * and probed with Spark's own codegen'd `BloomFilterMightContain`
    * expression on the same hash — byte-for-byte the shape Spark's
    * InjectRuntimeFilter plants for runtime row-level filtering,
    * with the serialized filter riding the plan as a literal (the
    * executor-shipping mechanics Spark uses for its own runtime
    * bloom filters; nothing to destroy afterwards, unlike an
    * explicit broadcast). */
  def incrementalBloom(batch: DataFrame, index: DataFrame, fp: Column,
                       expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bf = indexFps(index).stat.bloomFilter(xxhash64(col("fp")),
      expectedNumItems = math.max(1L, expectedItems), fpp = fpp)
    val serialized = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val w = Window.partitionBy(col("fp"))
    batch.select(col("doc_id"), fp.as("fp"))
      .withColumn("in_index", col("fp").isNotNull &&
        Bridge.bloomMightContain(serialized, xxhash64(col("fp"))))
      .withColumn("status",
        when(col("in_index"), lit(DupOfIndex))
          .when(col("doc_id") === min(col("doc_id")).over(w), lit(Novel))
          .otherwise(lit(DupInBatch)))
      .select(col("doc_id"), col("fp"), col("status"),
        (col("status") === Novel).as("keep"))
  }

  /** Verdict row of text near-dup admission ([[incrementalNearDup]]). */
  final case class NearDupVerdict(doc_id: Long, status: String,
                                  match_id: Option[Long], keep: Boolean)

  /** Internal vote row (public: encoder codegen needs member access). */
  final case class CandVote(doc_id: Long, index_id: Option[Long],
                            verified: Boolean)

  /** The verdict fold every near-dup admission shares (text here, the
    * media engine, and the semantic and embedding families): a key's
    * candidate votes become ONE verdict — the minimum verified witness
    * id as `match_id` with status `near_dup`, else `novel`. `witness`
    * gives a vote's witness id when the vote is verified.
    *
    * It runs as a `flatMapGroupsWithState` that never touches its
    * state (a key's votes all derive from its own input row), so the
    * same fold is legal on a stream and on a batch, and a streaming
    * query keeps zero state rows. */
  def foldVerdicts[V, O <: Product : TypeTag](votes: Dataset[V])(
      key: V => Long, witness: V => Option[Long])(
      verdict: (Long, String, Option[Long], Boolean) => O): Dataset[O] =
    votes.groupByKey(key)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (id: Long, rows: Iterator[V], _: GroupState[Boolean]) => {
          val best = rows.flatMap(witness).minOption
          Iterator.single(verdict(id, if (best.isDefined) NearDup else Novel,
            best, best.isEmpty))
        })(Encoders.scalaBoolean, Encoders.product[O])

  /** Incremental NEAR-dup admission — the fuzzy twin of
    * [[incremental]]: classify each doc of `batch` (doc_id, text)
    * against the curated corpus `index` (same columns) through its
    * MinHash band-key index. ONE plan serves a batch and a stream:
    * `batch` may be a streaming DataFrame
    * (`streaming.StreamingNearDupAdmission` is exactly that); `index`
    * is static.
    *
    *  1. one per-row [[MinHash]] kernel pass per side gives each doc's
    *     distinct shingles and band keys — no shuffle;
    *  2. the band index of the corpus, hot buckets capped to the
    *     `maxBucketSize` lowest ids (deterministic; the number of
    *     capped-out rows is the `lsh_bucket_truncated_N` observe
    *     metric, as in [[minhashCandidates]]) — the cap window is the
    *     only shuffle of the corpus side;
    *  3. the batch's band keys LEFT-join the band index (candidates
    *     only, never O(corpus); zero-candidate docs stay alive) and
    *     the candidates' shingle sets, and the exact Jaccard is
    *     computed per row (`array_intersect`) before the arrays are
    *     dropped;
    *  4. [[foldVerdicts]] folds each doc's votes to one verdict.
    *
    * Flagged docs are structurally SOUND (every `near_dup` verdict
    * carries an exact-verified Jaccard ≥ `minJaccard` witness in
    * `match_id`); recall is the LSH catch probability
    * 1-(1-J^rows)^bands, so recall-oriented admission wants many short
    * bands (16×2 catches J=0.5 pairs w.p. 0.99). A doc with no
    * shingles (fewer than 3 tokens, or null text) is `novel`. Pairs
    * within `batch` are not compared. Output: (doc_id, status,
    * match_id, keep). */
  def incrementalNearDup(batch: DataFrame, index: DataFrame,
                         minJaccard: Double = 0.5,
                         numBands: Int = 16, rowsPerBand: Int = 2,
                         maxBucketSize: Int = 1000): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    def sketched(docs: DataFrame): DataFrame =
      docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val sh = MinHash.shingles(text)
          (id, sh, MinHash.bandKeys(MinHash.signature(sh, numBands * rowsPerBand),
            numBands, rowsPerBand))
        }
        .toDF("doc_id", "shingles", "bands")
    val indexed = sketched(index).withColumnRenamed("doc_id", "index_id")
    val bandIndex = indexed
      .select(col("index_id"), posexplode(col("bands")).as(Seq("band", "bh")))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("band"), col("bh")).orderBy(col("index_id"))))
      .observe(s"lsh_bucket_truncated_${lshObserveSeq.incrementAndGet()}",
        sum(when(col("r") > maxBucketSize, 1L).otherwise(0L)).as("n_dropped"))
      .filter(col("r") <= maxBucketSize).drop("r")
    val indexShingles = indexed.select(col("index_id"),
      col("shingles").as("ishingles"), size(col("shingles")).as("ni"))
    val votes = sketched(batch)
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("nb"),
        posexplode_outer(col("bands")).as(Seq("band", "bh")))
      .join(bandIndex, Seq("band", "bh"), "left")
      .join(indexShingles, Seq("index_id"), "left")
      .withColumn("inter", size(array_intersect(col("shingles"), col("ishingles"))))
      .select(col("doc_id"), col("index_id"),
        (col("index_id").isNotNull &&
          col("inter").cast("double") / (col("nb") + col("ni") - col("inter"))
            >= minJaccard).as("verified"))
      .as[CandVote]
    foldVerdicts(votes)(_.doc_id, v => v.index_id.filter(_ => v.verified))(
      NearDupVerdict.apply _).toDF()
  }

  /** Distinct word-3-shingles, one row per (doc_id, shingle) with
    * doc_id a key: the [[MinHash.shingles]] kernel per row, exploded —
    * no shuffle. */
  def shingleRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(shinglesUdf(col("text"))).as("s"))

  private val shinglesUdf = udf(MinHash.shingles _)

  /** nlist at or above which [[semanticDedup]] switches from the
    * flat centroid fit+assign to the two-level hierarchy. The flat
    * path's assign is O(n·nlist) and its fit O(sample·nlist) per
    * iteration — with corpus-scaled nlist both turn quadratic; the
    * hier path is O(n·√nlist) but carries a fixed few-job overhead
    * (coarse fit, sample assign, per-cell fine fits). Measured
    * crossover on this host sits between nlist 82 (sf1: flat 4.7 s
    * vs hier 6.1 s) and nlist 820 (sf10: hier 18.5 s vs flat
    * 19.9 s, and the gap widens ~linearly in nlist beyond); 256
    * splits that range so every corpus-scaled caller past ~65k
    * vectors rides the linear-at-100-TB path. */
  private val HierNlist = 256

  /** MinHash signatures and LSH band keys, one row per doc with at
    * least one shingle: (doc_id, sig, bands) from the [[MinHash]]
    * kernel per row — `numBands·rowsPerBand` permutations, band b the
    * hash of the b-th `rowsPerBand`-slice of `sig`. No shuffle. */
  def minhash(docs: DataFrame, numBands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val sig = MinHash.signature(MinHash.shingles(text), numBands * rowsPerBand)
        if (sig.isEmpty) None
        else Some((id, sig, MinHash.bandKeys(sig, numBands, rowsPerBand)))
      }
      .toDF("doc_id", "sig", "bands")
  }

  private val lshObserveSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Candidate near-dup pairs = documents sharing ≥1 LSH band bucket.
    * Shuffle is on (band_idx, band_hash) — bucket-local self-join.
    *
    * Hot-bucket guard: a degenerate bucket (thousands of identical or
    * near-empty docs sharing every band — the realistic 100 TB LSH
    * failure mode) would make the self-join quadratic. Each bucket is
    * capped at `maxBucketSize` members (the lowest doc_ids, so the
    * cap is deterministic); within a capped bucket members still pair
    * with each other, so genuine duplicate clusters stay connected
    * through the kept representatives, while the pair count is
    * bounded by bands·cap²/2 instead of bands·n²/2. The number of
    * rows dropped by the cap is recorded as an `observe` metric
    * (`lsh_bucket_truncated_N`, no extra job) — callers needing the
    * count read it via a QueryExecutionListener / Observation. */
  def minhashCandidates(withBands: DataFrame, maxBucketSize: Int = 1000): DataFrame = {
    val b = withBands.select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bh")))
    val ranked = b.withColumn("r", row_number().over(
        Window.partitionBy(col("band"), col("bh")).orderBy(col("doc_id"))))
      .observe(s"lsh_bucket_truncated_${lshObserveSeq.incrementAndGet()}",
        sum(when(col("r") > maxBucketSize, 1L).otherwise(0L)).as("n_dropped"))
      .filter(col("r") <= maxBucketSize)
    val l = ranked.select(col("band"), col("bh"), col("doc_id").as("a"))
    val r = ranked.select(col("band"), col("bh"), col("doc_id").as("b"))
    l.join(r, Seq("band", "bh")).filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Estimated Jaccard = fraction of agreeing signature positions. */
  def minhashEstimate(withSig: DataFrame, candidates: DataFrame): DataFrame = {
    val sa = withSig.select(col("doc_id").as("a"), col("sig").as("sig_a"))
    val sb = withSig.select(col("doc_id").as("b"), col("sig").as("sig_b"))
    candidates.join(sa, "a").join(sb, "b")
      .select(col("a"), col("b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          when(x === y, lit(1)).otherwise(lit(0))), v => v === 1)).cast("double")
          / size(col("sig_a"))).as("est_jaccard"))
  }

  /** 64-bit SimHash: explode tokens → xxhash64 → 64 bit-vote sums in
    * one grouped aggregate → reassemble bits; plus 4×16-bit band keys
    * for hamming-banded near-dup joins. */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val voteCols = (0 until 64).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$b"))
    val votes = tok.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
    val simhashCol = (0 until 64).map(b =>
      when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ bitwiseOR _)
    votes.select(col("doc_id"), simhashCol.as("simhash"))
      .withColumn("bands", array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xffffL))): _*))
  }

  /** N-gram (word 3-shingle) Jaccard via an inverted-index join:
    * shingle rows → join on shingle → pair intersection counts →
    * |A∩B| / (|A|+|B|−|A∩B|). Only pairs sharing ≥1 shingle are
    * materialized. */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double): DataFrame = {
    val sh = shingleRows(docs)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.select(col("s"), col("doc_id").as("a"))
      .join(sh.select(col("s"), col("doc_id").as("b")), "s")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .select(col("a"), col("b"), col("inter"),
        round(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** [[connectedComponents]] result with its convergence contract:
    * `rounds` = propagate+jump rounds executed, `converged` = the
    * last round changed no label (⇒ every node carries its component
    * minimum). At 100 TB a silent `maxIter` exit would hand
    * downstream keep/drop decisions half-merged clusters — callers
    * must be able to SEE that instead of discovering it in the
    * output. */
  case class CCResult(labels: DataFrame, rounds: Int, converged: Boolean)

  /** Connected components over an undirected pair list — the
    * pairs→clusters step of the near-dup pipeline. Iterative
    * min-label propagation with pointer jumping (label ← label of
    * label), the hash-to-min family of MapReduce CC algorithms:
    * converges in O(log d) rounds (d = component diameter — for LSH
    * candidate graphs the clusters are near-cliques, so 2-3 rounds),
    * and every shuffle is keyed by node id / label — no step ever
    * materializes a component as one row, so a giant duplicate
    * cluster costs its edge count, not its square.
    *
    * Convergence is detected by counting changed labels in the SAME
    * action that materializes each round (a `LongAccumulator` filled
    * by the RDD map), so a round costs exactly one job — the earlier
    * design paid a separate label-sum aggregate job per round.
    * Labels are monotone non-increasing, so "no label changed" is a
    * true fixpoint test. (Accumulators can over-count on task retry,
    * but the test only compares against zero, and a retried task adds
    * nothing unless some label genuinely changed.)
    *
    * Returns (id, label) for every node that appears in `pairs`,
    * plus rounds-used and the converged flag. The labels read the last
    * round's pinned RDD, which the caller frees with
    * [[graft.Materialize.release]] once they are consumed.
    */
  def connectedComponentsStats(pairs: DataFrame, maxIter: Int = 25): CCResult = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs
      .select(col("a").cast("long").as("x"), col("b").cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("x"), greatest(col("x"), col("y")).as("y"))
      .distinct()
    // Lineage discipline: each round materializes to a pinned RDD
    // and re-enters SQL through a flat LogicalRDD plan. Keeping the
    // loop purely in DataFrames nests the previous round's plan ~6×
    // per iteration (two self-references to l1, three to labels) —
    // Catalyst re-analysis then grows exponentially and round 5
    // never finishes planning. The RDD DAG grows linearly and each
    // parent is cached.
    def toDF(r: org.apache.spark.rdd.RDD[(Long, Long)]) =
      spark.createDataset(r).toDF("id", "label")
    var iter = 0
    var converged = false
    val last = Materialize.withCached(edges) {
      // `.rdd` plans eagerly: built here, it reads the edges cache
      val init = edges.select(col("x").as("id"))
        .union(edges.select(col("y").as("id")))
        .distinct()
        .withColumn("label", col("id"))
        .rdd.map(r => (r.getLong(0), r.getLong(1)))
      Materialize.withCached(init)(Materialize.iterate(init, maxIter, converged) { cur =>
        val labels = toDF(cur)
        // min label across each edge (both directions) plus own label;
        // the `own` marker carries each node's previous label through
        // the aggregate so the changed-count needs no extra join
        val lx = labels.select(col("id").as("x"), col("label"))
        val ly = labels.select(col("id").as("y"), col("label"))
        val l1 = edges.join(lx, "x")
          .select(col("y").as("id"), col("label"), lit(false).as("own"))
          .union(edges.join(ly, "y")
            .select(col("x").as("id"), col("label"), lit(false).as("own")))
          .union(labels.withColumn("own", lit(true)))
          .groupBy("id").agg(min("label").as("label"),
            max(when(col("own"), col("label"))).as("old_label"))
        // pointer jump: label ← label(label) — halves path lengths
        val jump = l1.select(col("id").as("label"), col("label").as("label2"))
        val changed = spark.sparkContext.longAccumulator(s"cc_changed_$iter")
        // one action: materializes the round AND fills the accumulator
        val next = Materialize.pin(l1.join(jump, Seq("label"), "left")
          .select(col("id"), coalesce(col("label2"), col("label")).as("label"),
            col("old_label"))
          .rdd.map { r =>
            val lbl = r.getLong(1)
            if (lbl != r.getLong(2)) changed.add(1L)
            (r.getLong(0), lbl)
          })
        converged = changed.value == 0L
        iter += 1
        next
      })
    }
    CCResult(toDF(last), iter, converged)
  }

  /** Labels-only view of [[connectedComponentsStats]]. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponentsStats(pairs, maxIter).labels

  /** pairs → clusters → keep/drop: every doc gets its component id
    * (the minimum doc_id reachable through the candidate-pair graph;
    * docs in no pair are their own component) and a keep flag — the
    * component minimum is the canonical copy, the rest are drops.
    * This is the decision surface a dedup pipeline feeds back into
    * the corpus ("drop doc X"). */
  def resolveDuplicates(docs: DataFrame, pairs: DataFrame,
                        idCol: String = "doc_id"): DataFrame = {
    val cc = connectedComponents(pairs).withColumnRenamed("id", idCol)
    docs.select(col(idCol))
      .join(cc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("label"), col(idCol)).as("component"))
      .withColumn("keep", col(idCol) === col("component"))
  }

  /** [[resolveDuplicates]] with a QUALITY policy: within each
    * duplicate component the canonical copy is the doc with the
    * highest `score` (min doc_id on ties), not the smallest id —
    * the keep rule real curation uses ("of these 40 mirrors, keep
    * the cleanest"). `component` stays the component-min doc_id so
    * group identity is policy-independent.
    *
    * Scale shape: CC labels join (keyed by id), then ONE max_by hash
    * aggregation on component — a single candidate struct per key
    * per partition with map-side combine, never a per-component sort
    * — and a component-keyed hash join back. A 10M-copy component
    * costs its row count, not a sort of it. */
  def resolveDuplicatesBy(docs: DataFrame, pairs: DataFrame, score: Column,
                          idCol: String = "doc_id"): DataFrame = {
    val cc = connectedComponents(pairs).withColumnRenamed("id", idCol)
    val withComp = docs.select(col(idCol), score.as("score"))
      .join(cc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("component"), col("score"))
    val keepers = withComp.groupBy(col("component"))
      .agg(max_by(col(idCol), struct(col("score"), -col(idCol))).as("keep_id"))
    withComp.join(keepers, Seq("component"))
      .select(col(idCol), col("component"),
        (col(idCol) === col("keep_id")).as("keep"))
  }

  /** Cross-document duplicated SUBSTRING spans (the exact-substring
    * training-data dedup of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22 — span-level, not
    * whole-doc): every k-token gram appearing in ≥ `minDocs` DISTINCT
    * documents marks its k positions duplicated; overlapping/touching
    * marked windows merge into maximal [span_start, span_end) token
    * spans per doc. A curation pipeline TRIMS these spans instead of
    * dropping whole documents — the right remedy for boilerplate and
    * licence blocks that near-dup operators (whole-doc granularity)
    * cannot excise.
    *
    * Scale shape: one tokenize pass (posexplode + k−1 codegen'd
    * leads — no per-element HOF work), gram df via groupBy on the
    * gram STRING (exact, collision-free parity with the oracle; a
    * 100 TB deployment would key on xxhash64(gram) and carry the
    * ~2⁻⁶⁴ collision odds, same trade as any fingerprint index),
    * duplicated-gram starts via one gram-keyed join, and the
    * interval merge is a single per-doc window pass (gaps-and-
    * islands over a running max of span ends). Every shuffle carries
    * either (gram) or (doc_id)-keyed rows — never pairs. */
  def duplicatedSpans(docs: DataFrame, k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // spread the single-split gate-scale scan before the tokenize
    // (the Curation.gateStage rationale; wide scans pass through)
    val toks = graft.Tables.spreadIfNarrow(docs).select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w0")))
    val grams = (1 until k).foldLeft(toks) { (df, i) =>
        df.withColumn(s"w$i", lead(col("w0"), i).over(w))
      }
      .filter(col(s"w${k - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", (0 until k).map(i => col(s"w$i")): _*).as("g"))
    val dupGrams = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs).select(col("g"))
    val starts = grams.join(dupGrams, Seq("g"))
      .select(col("doc_id"), col("pos"))
    starts
      .withColumn("prev_max_end", max(col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_end").isNull || col("pos") > col("prev_max_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        max(col("pos") + k).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** EXACT embedding-cosine near-dup stats per probe vector: neighbor
    * count above threshold + max cosine, scored against every
    * candidate (broadcast nested-loop — probes × candidates pairs).
    * This is the verification BASELINE, not the scale path: it is
    * only safe when the probe side is small enough to broadcast. A
    * probe set that grows with the corpus (e.g. "2% of all docs")
    * must route through [[embeddingNearDupLsh]] instead, where
    * candidates come from a bucket equi-join. Norms are precomputed
    * per side so the per-pair work is just the dot product. */
  def embeddingNearDup(probes: DataFrame, candidates: DataFrame,
                       threshold: Double): DataFrame = {
    val p = broadcast(probes.select(col("vec_id").as("qid"),
        VectorOps.asDoubleArray(col("embedding")).as("qv"))
      .withColumn("qn", VectorOps.l2Norm(col("qv"))))
    val c = candidates.select(col("vec_id").as("cid"),
        VectorOps.asDoubleArray(col("embedding")).as("cv"))
      .withColumn("cn", VectorOps.l2Norm(col("cv")))
    p.join(c, col("qid") =!= col("cid"))
      .select(col("qid"),
        when(col("qn") * col("cn") > 0,
          VectorOps.dotArr(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .groupBy("qid")
      .agg(sum(when(col("cos") > threshold, 1L).otherwise(0L)).as("n_near"),
        round(max(col("cos")), 6).as("max_cos"))
  }

  /** SemDeDup-style cluster-scoped semantic dedup (Abbas et al.
    * 2023): k-means-partition the embedding space, then search for
    * near-duplicate pairs ONLY within each cluster and drop the
    * larger-id member of every (cos > threshold) pair — the repo's
    * keep-min survivor convention. Output: (vec_id, cid, keep), a
    * [[graft.Materialize.pin]] the caller releases.
    *
    * Approximate by construction: a near pair straddling a cluster
    * boundary is missed (never the reverse — every within-cluster
    * drop IS a genuine global near-dup, so drops are SOUND). The
    * premise, as in the paper, is that semantic duplicates land in
    * the same angular cell with high probability; `q_dedup_semantic`
    * gates that as a checked soundness + recall contract over
    * planted duplicates.
    *
    * Scale shape (100 TB): centroids fit on a deterministic hash
    * sample with no pre-count pass ([[Similarity.kmeansCentroids]]);
    * assignment is one codegen'd [[graft.functions.CentroidCosines]]
    * pass; the pair search is a cid-keyed self equi-join, so pair
    * cost is bounded by Σ|cell|² — `nlist` grows with the corpus to
    * hold |cell| roughly constant (the paper's configuration), and
    * the join never materializes cross-cluster pairs.
    *
    * The pair scan itself is TWO-STAGE (the IVF×int8 pattern of
    * [[Similarity.ivfTopKQuantized]] applied to dedup): the
    * cid-keyed self-join shuffles and scores the int8-quantized
    * vectors only — 4× narrower shuffle rows, exact-integer
    * [[graft.functions.DotProductInt8]] per pair — keeping pairs
    * whose approximate cosine clears `threshold − prefilterMargin`;
    * only those survivors (near-dups are a vanishing fraction of
    * all within-cell pairs) join back BY KEY to the float vectors
    * for the exact-cosine verdict. Every emitted drop is verified
    * at full precision, so the pre-filter cannot un-sound the
    * result; it can only miss a pair whose int8 cosine distortion
    * exceeds the margin (per-vector reconstruction cosine ≥ 0.995
    * is a checked contract in `EmbeddingQuant.quantReport`, making
    * 0.05 a ≳10× cushion over observed distortion; recall stays
    * gated end-to-end by the `q_dedup_semantic` contract). */
  def semanticDedup(corpus: DataFrame, nlist: Int, threshold: Double,
                    seed: Long = 42L, sampleMod: Int = 1,
                    prefilterMargin: Double = 0.05): DataFrame = {
    import graft.functions.DotProductInt8
    // QUANTIZE FIRST: one typed zero-shuffle pass over the float
    // corpus produces the int8 index, and every bulk stage after it —
    // centroid-fit sample, cell assignment, pair scan — reads the
    // cached 4×-narrower int8 rows instead of re-scanning the float
    // parquet (the pre-round-11 shape paid three separate full float
    // scans: fit, quantize, assign). Floats are touched again only by
    // the bounded exact verify of stage-2 survivors.
    val quant = Similarity.quantizedCorpus(corpus)
      .select(col("vec_id"), col("qv"))
    val qAsEmb = quant.select(col("vec_id"), col("qv").as("embedding"))
    // stage 2's exact-cosine side: the float vectors, by key
    val exact = corpus.select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("cv"))
      .withColumn("cn", VectorOps.l2Norm(col("cv")))
    // EAGER finish: the verdict is pinned, so the wide working caches
    // (int8 vectors ×2) are released instead of accumulating
    Materialize.withCached(quant) {
      // fit on the int8 vectors: cosine is scale-invariant, so the
      // per-vector quantization scale drops out of every distance, and
      // per-vector reconstruction cosine ≥ 0.995 is a checked contract
      // (EmbeddingQuant.quantReport) — cell boundaries move by less
      // than the prefilter margin absorbs. random init: deterministic
      // under the seed and O(k) — k-means||'s driver-local final step
      // dominates once nlist reaches the hundreds, and cell QUALITY is
      // secondary (cells partition the space; recall is gated by the
      // q_dedup_semantic contract, not cell shape). maxIter 4: at
      // corpus-scaled nlist the MLlib fit is the single largest
      // production stage (15.3 s of 25.9 s at sf10 with the default 10
      // iterations — measured; 4 halves it with no contract movement).
      // Corpus-scaled nlist (the SemDeDup configuration: nlist ∝ n to
      // hold |cell| constant) takes the TWO-LEVEL hierarchy — a flat
      // fit+assign is O(n·nlist) = O(n²/256) there, measured 18.3×
      // wall at 10× data; coarse√nlist → fine-within-cell assignment
      // is O(n·√nlist) and stays linear as nlist grows
      // ([[Similarity.hierCentroids]]). Small fixed nlist keeps the
      // flat path (fewer moving parts, identical contract).
      val assignedCells =
        if (nlist >= HierNlist) {
          val (coarse, fine) = Similarity.hierCentroids(qAsEmb, nlist, seed,
            maxIter = 4, sampleMod = sampleMod)
          Similarity.assignCellsHier(qAsEmb, coarse, fine)
        } else {
          val centroids = Similarity.kmeansCentroids(qAsEmb, nlist, seed,
            maxIter = 4, sampleMod = sampleMod, initMode = "random")
          Similarity.assignCells(qAsEmb, centroids)
        }
      // the in-session stand-in for the stored cid-bucketed quantized
      // index a deployment reads here: (id, cid, int8 vector, norm),
      // ~100 B/row, cached because both self-join sides read it. The
      // int8 self-norm is precomputed per ROW, not per pair.
      val qside = assignedCells
        .select(col("vec_id"), col("embedding").as("qv"), col("cid"))
        .withColumn("qn", sqrt(DotProductInt8.dot(col("qv"), col("qv"))
          .cast("double")))
      Materialize.withCached(qside) {
        // stage 1: int8-only bulk pair scan (cid-keyed self equi-join)
        val x = qside.select(col("cid"), col("vec_id").as("xid"),
          col("qv").as("xqv"), col("qn").as("xqn"))
        val y = qside.select(col("cid"), col("vec_id").as("yid"),
          col("qv").as("yqv"), col("qn").as("yqn"))
        val candPairs = x.join(y, Seq("cid"))
          .filter(col("xid") < col("yid") && col("xqn") * col("yqn") > 0 &&
            DotProductInt8.dot(col("xqv"), col("yqv")).cast("double")
              / (col("xqn") * col("yqn")) > threshold - prefilterMargin)
          .select(col("xid"), col("yid"))
        // stage 2: exact-cosine verdict on the surviving pairs only —
        // two id-keyed point-lookup joins into the float vectors
        val drops = candPairs
          .join(exact.select(col("vec_id").as("xid"), col("cv").as("xv"),
            col("cn").as("xn")), Seq("xid"))
          .join(exact.select(col("vec_id").as("yid"), col("cv").as("yv"),
            col("cn").as("yn")), Seq("yid"))
          .filter(col("xn") * col("yn") > 0 &&
            VectorOps.dotArr(col("xv"), col("yv")) / (col("xn") * col("yn"))
              > threshold)
          .select(col("yid").as("vec_id")).distinct()
        Materialize.pin(qside.select(col("vec_id"), col("cid"))
          .join(drops.withColumn("__drop", lit(true)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("cid"), col("__drop").isNull.as("keep")))
      }
    }
  }

  // ---- stored + incremental semantic dedup ----

  /** Build the STORED semantic-dedup index at `dir` — the persisted
    * form of [[semanticDedup]]'s working state, so a deployment pays
    * the centroid fit + quantize + assignment ONCE and every later
    * ingest admits against it incrementally
    * ([[incrementalSemanticAdmission]]) instead of re-paying the full
    * build (the round-13 gap: every other index family already had
    * this lifecycle). Layout:
    *  - `dir/vectors` — cid-PARTITIONED int8 rows (vec_id, qv),
    *    [[graft.sources.CorpusSink.writeParquet]] with
    *    shardCol = "cid", one directory per cell (admission's left
    *    join reads every cell; ROADMAP item 13);
    *  - `dir/cells_coarse` / `dir/cells_fine` — the two-level
    *    centroid sidecar (i, centroid) / (i, j, centroid).
    * A flat fit (nlist < [[HierNlist]]) is stored in the SAME
    * two-level format with identity fine blocks (fine(i) = [coarse(i)]
    * — exactly [[Similarity.hierCentroids]]'s empty-cell rule), so
    * there is ONE serving path: [[Similarity.assignCellsHier]], which
    * degenerates to the flat argmax on identity blocks. Typically
    * committed through [[graft.IndexCatalog.openOrBuild]], which
    * stamps build params + corpus vintage and makes reopen a pure
    * manifest read. */
  def buildSemanticIndex(corpus: DataFrame, nlist: Int, dir: String,
                         seed: Long = 42L, sampleMod: Int = 1): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val quant = Similarity.quantizedCorpus(corpus)
      .select(col("vec_id"), col("qv"))
    val qAsEmb = quant.select(col("vec_id"), col("qv").as("embedding"))
    Materialize.withCached(quant) {
      val (coarse, fine) =
        if (nlist >= HierNlist)
          Similarity.hierCentroids(qAsEmb, nlist, seed, maxIter = 4,
            sampleMod = sampleMod)
        else {
          val flat = Similarity.kmeansCentroids(qAsEmb, nlist, seed,
            maxIter = 4, sampleMod = sampleMod, initMode = "random")
          (flat, flat.map(c => Array(c.clone())))
        }
      coarse.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
        .toDF("i", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/cells_coarse")
      fine.zipWithIndex.toSeq.flatMap { case (blk, i) =>
          blk.zipWithIndex.map { case (c, j) => (i, j, c.toSeq) }
        }
        .toDF("i", "j", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/cells_fine")
      val assigned = Similarity.assignCellsHier(qAsEmb, coarse, fine)
        .filter(col("cid").isNotNull)
        .select(col("vec_id"), col("embedding").as("qv"), col("cid"))
      graft.sources.CorpusSink.writeParquet(assigned, s"$dir/vectors",
        shardCol = "cid", sortCol = "vec_id", filesPerShard = 2)
    }
  }

  /** Load the two-level centroid sidecar back into the in-memory form
    * [[Similarity.assignCellsHier]] takes (driver-sized — nlist·dim
    * doubles, the same object every IVF family carries). One collect
    * per table: the schemas are stated, so no parquet schema inference
    * runs, and the rows are ordered on the driver, not by a Spark sort. */
  def readSemanticCells(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    def centroid(r: org.apache.spark.sql.Row, i: Int) = r.getSeq[Double](i).toArray
    val coarse = spark.read.schema("i INT, centroid ARRAY<DOUBLE>")
      .parquet(s"$dir/cells_coarse").collect()
      .sortBy(_.getInt(0)).map(centroid(_, 1))
    val fine = spark.read.schema("i INT, j INT, centroid ARRAY<DOUBLE>")
      .parquet(s"$dir/cells_fine").collect()
      .groupBy(_.getInt(0))
    (coarse, Array.tabulate(coarse.length)(i =>
      fine.getOrElse(i, Array.empty).sortBy(_.getInt(1)).map(centroid(_, 2))))
  }

  /** Verdict row of vector admission ([[incrementalSemanticAdmission]],
    * [[incrementalEmbeddingAdmission]]), one per vec_id. */
  final case class VecVerdict(vec_id: Long, status: String,
                              match_id: Option[Long], keep: Boolean)

  /** Internal vote row (public: encoder codegen needs member access). */
  final case class VecVote(vec_id: Long, index_id: Option[Long],
                           verified: Boolean)

  /** The per-row kernel pass of vector admission: (vec_id, embedding)
    * rows, float or double, become (vec_id, fv, k, fn) — `fv` the
    * embedding as array<double>, `k` = `kernel(fv)` (the row's
    * candidate keys), `fn` = ‖fv‖. A null embedding reads as the empty
    * vector: zero norm, so it never verifies and stays `novel`. No
    * shuffle. */
  private def kernelRows[K: TypeTag](vecs: DataFrame)(
      kernel: Array[Double] => K): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (id, v0) =>
        val v = if (v0 == null) Array.emptyDoubleArray else v0
        (id, v, kernel(v))
      }
      .toDF("vec_id", "fv", "k")
      .withColumn("fn", VectorOps.l2Norm(col("fv")))
  }

  /** The exact-cosine vote both vector admissions share: `cands`
    * (vec_id, fv, fn, index_id) — one row per candidate, index_id null
    * for none — LEFT-joins the stored float vectors of `index`; a vote
    * is verified when the candidate is another vector and its cosine
    * with `fv` is above `threshold` (a null stored embedding never
    * verifies, it does not fail the vote). The carried arrays are dropped
    * before [[foldVerdicts]] folds each vector's votes to one verdict. */
  private def cosineVerdicts(cands: DataFrame, index: DataFrame,
                             threshold: Double): Dataset[VecVerdict] = {
    val iv = index.select(col("vec_id").as("index_id"),
        VectorOps.asDoubleArray(col("embedding")).as("iv"))
      .withColumn("in_norm", VectorOps.l2Norm(col("iv")))
    val votes = cands.join(iv, Seq("index_id"), "left")
      .select(col("vec_id"), col("index_id"),
        coalesce(col("index_id") =!= col("vec_id") &&
          col("fn") * col("in_norm") > 0 &&
          VectorOps.dotArr(col("fv"), col("iv")) / (col("fn") * col("in_norm"))
            > threshold, lit(false)).as("verified"))
      .as(Encoders.product[VecVote])
    foldVerdicts(votes)(_.vec_id, v => v.index_id.filter(_ => v.verified))(
      VecVerdict.apply _)
  }

  /** Incremental SEMANTIC admission — [[incrementalEmbeddingAdmission]]
    * over the STORED k-means cells instead of LSH buckets: each vector
    * of `batch` (vec_id, embedding) is admitted unless some vector of
    * the index at `dir` ([[buildSemanticIndex]]) in its cell is closer
    * than `threshold` cosine; `index` is the float corpus the index was
    * built from (the exact verify's side). ONE lazy plan serves a batch
    * and a stream — `batch` may be a streaming DataFrame:
    *  1. the kernel per row: [[Similarity.quantizeRow]] (the index
    *     build's rounding), then the [[graft.functions.HierCellId]]
    *     cell over the stored sidecar — O(√nlist) per row;
    *  2. a stream-static LEFT join on cid into `dir/vectors` (no cell,
    *     or an empty one, stays alive as `novel`);
    *  3. the int8 pre-filter keeps candidates with approx cosine >
    *     threshold − `prefilterMargin` (the [[semanticDedup]] margin
    *     rule — quant distortion is a checked ≤0.5% contract, the
    *     margin a ≳10× cushion);
    *  4. the shared exact float-cosine vote and [[foldVerdicts]]: every
    *     `near_dup` carries an exact witness in `match_id` (drops SOUND
    *     by construction; cell-boundary misses cost recall only, gated
    *     in `q_dedup_incr_semantic`), and no state is kept across
    *     vectors or micro-batches.
    * Building the plan runs only the sidecar's collects. Pairs within
    * `batch` are not compared. */
  def incrementalSemanticAdmission(batch: DataFrame, index: DataFrame,
                                   dir: String, threshold: Double = 0.9,
                                   prefilterMargin: Double = 0.05): Dataset[VecVerdict] = {
    import graft.functions.{DotProductInt8, HierCellId}
    def int8Norm(qv: Column) = sqrt(DotProductInt8.dot(qv, qv).cast("double"))
    val (coarse, fine) = readSemanticCells(batch.sparkSession, dir)
    val stored = batch.sparkSession.read
      .schema("vec_id BIGINT, qv ARRAY<TINYINT>, cid INT").parquet(s"$dir/vectors")
      .select(col("cid"), col("vec_id").as("index_id"), col("qv").as("sqv"))
      .withColumn("sqn", int8Norm(col("sqv")))
    val cands = kernelRows(batch)(v => Similarity.quantizeRow(v)._2.toSeq)
      .withColumn("cid", HierCellId.of(VectorOps.asDoubleArray(col("k")), coarse, fine))
      .withColumn("bqn", int8Norm(col("k")))
      .join(stored, Seq("cid"), "left")
      .select(col("vec_id"), col("fv"), col("fn"),
        when(col("bqn") * col("sqn") > 0 &&
            DotProductInt8.dot(col("k"), col("sqv")).cast("double")
              / (col("bqn") * col("sqn")) > threshold - prefilterMargin,
          col("index_id")).as("index_id"))
    cosineVerdicts(cands, index, threshold)
  }

  /** Incremental EMBEDDING admission — the vector-space sibling of
    * [[incrementalNearDup]]: each vector of `batch` (vec_id, embedding)
    * is admitted unless some vector of the static corpus `index` (same
    * columns) is closer than `threshold` cosine. ONE lazy plan serves a
    * batch and a stream — `batch` may be a streaming DataFrame:
    *  1. the kernel per row on both sides: [[Similarity.bucketsOf]],
    *     bit-identical to the columnar [[Similarity.lshBucket]], gives
    *     each vector its bucket in each of `numTables` tables of `bits`
    *     seeded hyperplanes over the first `dim` components;
    *  2. the batch's (tbl, bucket) keys stream-static LEFT-join the
    *     corpus bucket table (candidates only; zero-candidate vectors
    *     stay alive);
    *  3. the shared exact-cosine vote and [[foldVerdicts]]: the min
    *     verified index id is `match_id`, else `novel`; no state is
    *     kept across vectors or micro-batches.
    * Per-call cost is O(batch + candidates), and the candidate count is
    * PARAMETER-DEPENDENT: each table contributes ~|batch|·|corpus|/2^bits
    * expected pairs, so the never-O(corpus) claim holds only when `bits`
    * scales with the corpus — 2^bits ≳ corpus / (target bucket size).
    * The default (8 bits × 8 tables) keeps buckets ≈|corpus|/256 per
    * table; a 100 TB deployment raises `bits` as the stored index grows.
    * `dim` is the embedding dimensionality (pipeline config), so
    * building the plan runs no job. Pairs within `batch` are not
    * compared. */
  def incrementalEmbeddingAdmission(batch: DataFrame, index: DataFrame,
                                    dim: Int, threshold: Double = 0.9,
                                    bits: Int = 8, numTables: Int = 8,
                                    seed: Long = 42L): Dataset[VecVerdict] = {
    require(dim > 0, s"dim must be positive, got $dim")
    val planes = Similarity.hyperplanes(dim, bits * numTables, seed)
    def banded(vecs: DataFrame) =
      kernelRows(vecs)(Similarity.bucketsOf(_, planes, bits, numTables))
    val buckets = banded(index).select(col("vec_id").as("index_id"),
      posexplode(col("k")).as(Seq("tbl", "bucket")))
    val cands = banded(batch)
      .select(col("vec_id"), col("fv"), col("fn"),
        posexplode_outer(col("k")).as(Seq("tbl", "bucket")))
      .join(buckets, Seq("tbl", "bucket"), "left")
      .select(col("vec_id"), col("fv"), col("fn"), col("index_id"))
    cosineVerdicts(cands, index, threshold)
  }

  /** Scale-safe embedding near-dup: the same per-probe stats as
    * [[embeddingNearDup]], but scored over multi-table hyperplane LSH
    * candidates only ([[Similarity.lshCandidates]]) — every join is a
    * (table, bucket) or id equi-join, so the shape survives a probe
    * set that is a fixed FRACTION of a 100 TB corpus (the broadcast
    * nested-loop of the exact form outgrows executor memory there).
    *
    * Approximate by construction: a near pair hashing into disjoint
    * buckets in all tables is missed, so `n_near` can undercount and
    * `max_cos` can read low — never the reverse (candidates ⊆ all
    * pairs). With `bits` = 2 and 8 tables a cos = 0.2 pair survives
    * with p ≈ 0.95 (1 − (1 − p_plane²)^8, p_plane = 1 − θ/π); recall
    * vs exact is gated as a checked contract in `q_dedup_embedding`.
    * Probes with zero candidates surface as (n_near = 0, max_cos
    * null) through the left join — silently dropping them would make
    * the report lie about coverage. `dim` as in
    * [[Similarity.lshCandidates]]. */
  def embeddingNearDupLsh(corpus: DataFrame, probes: DataFrame, threshold: Double,
                          bits: Int = 2, seed: Long = 42L, numTables: Int = 8,
                          dim: Int): DataFrame = {
    val cand = Similarity.lshCandidates(corpus, probes, bits, seed, numTables, dim)
    val c = corpus.select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("cv"))
      .withColumn("cn", VectorOps.l2Norm(col("cv")))
    val p = probes.select(col("vec_id").as("qid"),
        VectorOps.asDoubleArray(col("embedding")).as("qv"))
      .withColumn("qn", VectorOps.l2Norm(col("qv")))
    val scored = cand.join(c, "vec_id").join(p, "qid")
      .select(col("qid"),
        when(col("qn") * col("cn") > 0,
          VectorOps.dotArr(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .groupBy("qid")
      .agg(sum(when(col("cos") > threshold, 1L).otherwise(0L)).as("n_near"),
        round(max(col("cos")), 6).as("max_cos"))
    p.select(col("qid")).join(scored, Seq("qid"), "left")
      .na.fill(0L, Seq("n_near"))
  }
}
