package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Physical-plan contracts for the newest operators — the shapes the
  * 100 TB rationale depends on, asserted so a refactor can't silently
  * regress them to nested loops or event-level window sorts. */
class PlanShapeSpec extends SparkTestBase {

  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Capture the executed plan of EVERY DataFrame action the body
    * runs — the assertion surface for operators that materialize
    * intermediate stages eagerly (semanticDedup, graph traversal),
    * whose final lazy plan hides the interesting stages behind
    * InMemoryTableScans. Stronger than a single-plan assert: every
    * job that actually ran is inspected. Listener delivery is async,
    * so quiesce-poll until the captured set stops growing. */
  private def executedPlans(body: => Unit): Seq[String] = {
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 10000000000L
      var last = -1
      var stable = 0
      while (stable < 3 && System.nanoTime() < deadline) {
        val n = plans.synchronized(plans.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
        Thread.sleep(100)
      }
    } finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toList)
  }

  /** Near-dup text fixture: overlapping 12-word windows over a
    * 17-word vocabulary, every fourth doc in the batch. */
  private def nearDupDocs = (1 to 40).map(i =>
    (i.toLong, (0 until 12).map(k => s"w${(i + k) % 17}").mkString(" "))).toDF("doc_id", "text")
  private def nearDupAdmission = {
    val docs = nearDupDocs
    Dedup.incrementalNearDup(docs.filter(col("doc_id") % 4 === 0),
      docs.filter(col("doc_id") % 4 =!= 0))
  }

  test("filteredTopK joins on the constraint key — hash join, no nested loop") {
    val emb = (0 until 20).map(i =>
      (i.toLong, Array.fill(4)(i.toFloat), s"l${i % 2}")).toDF("vec_id", "embedding", "label")
    val p = plan(Similarity.filteredTopK(emb, emb.limit(3), k = 2, Seq("label")))
    assert(p.contains("BroadcastHashJoin"), s"expected a hash join on label:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"constraint must ride the join key, not a post-filtered cross product:\n$p")
  }

  test("latestState aggregates with map-side partials — no window sort of the log") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val events = (1 to 50).map(i =>
      (i.toLong, new java.sql.Timestamp(t0.getTime + i * 1000L), (i % 5).toLong,
        "t", i * 0.5)).toDF("event_id", "ts", "user_id", "event_type", "value")
    val p = plan(Sessions.latestState(events))
    assert(!p.contains("Window"), s"compaction must not be a window over every event:\n$p")
    // partial+final pair: the aggregate appears on both sides of the exchange
    assert("SortAggregate|HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation:\n$p")
  }

  test("incremental dedup never cross-products the batch against the index") {
    val batch = (1 to 30).map(i => (i.toLong, s"t${i % 7}")).toDF("doc_id", "text")
    val index = (1 to 100).map(i => s"x$i").toDF("fp")
    val p = plan(Dedup.incremental(batch, index, col("text")))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"admission must be an fp-keyed equi-join:\n$p")
  }

  test("bm25TopK ends in a TakeOrdered, joins postings through hash joins") {
    val docs = (0 until 40).map(i =>
      (i.toLong, s"term${i % 5} data word${i % 3} filler")).toDF("doc_id", "text")
    val p = plan(Retrieval.bm25TopK(docs, nQueryTerms = 3, k = 5))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition heap, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the query-term join must be a broadcast hash join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the 1-row stats broadcast may be non-equi:\n$p")
  }

  test("projTopK stage 1 prunes map-side via WindowGroupLimit") {
    val emb = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)(((i * 7 + 3) % 11).toFloat - 5f))).toDF("vec_id", "embedding")
    val p = plan(Similarity.projTopK(emb, emb.filter(col("vec_id") % 20 === 0),
      k = 3, outDim = 4, keepDenom = 3))
    assert(p.contains("WindowGroupLimit"),
      s"the literal candidate budget must enable map-side top-keep pruning:\n$p")
  }

  test("BPE pair counting has no window — partial+final agg only") {
    val wf = Seq(("ab", "<a><b>", 3L), ("abc", "<a><b><c>", 2L))
      .toDF("word", "sym", "n")
    val p = plan(Tokenizer.pairCounts(wf))
    assert(!p.contains("Window"),
      s"pairing must be per-row array zips, not a lead() window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected map-side partial + final aggregation:\n$p")
  }

  // ---- headline relational plans over the real parquet fixtures:
  // the PLANS.md rationale for these lived only as prose until round
  // 10; these assertions make the 100 TB shapes regression-proof.

  private val sfDir = "/root/testdata/sf0.001"
  private def query(name: String) =
    graft.SparkEntry.queries(name)(spark, sfDir)
  test("q_scan_filter: both predicates and the 5-column projection reach parquet") {
    // formatted explain carries the untruncated PushedFilters /
    // ReadSchema (AQE's executedPlan root hides the scan from collect)
    val p = query("q_scan_filter").queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("GreaterThan(l_quantity") &&
      p.contains("LessThan(l_discount"),
      s"predicates not pushed to the scan:\n$p")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_discount").foreach(c =>
      assert(read.contains(c), s"projected column $c missing from ReadSchema: $read"))
    Seq("l_comment", "l_shipdate", "l_returnflag").foreach(c =>
      assert(!read.contains(c), s"unprojected column $c read from parquet: $read"))
  }

  test("q_join_agg: three broadcast joins, no sort-merge shuffle of the fact side") {
    val p = plan(query("q_join_agg"))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected customer/nation/region all broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the fact side must not shuffle for a dimension join:\n$p")
  }

  test("q_window_topk: WindowGroupLimit prunes map-side before the exchange") {
    val p = plan(query("q_window_topk"))
    assert(p.contains("WindowGroupLimit"),
      s"top-3-per-segment must pre-prune partitions, not sort whole segments:\n$p")
  }

  test("q_range_join: band join is a bucketized equi-join, never a nested loop") {
    val p = plan(query("q_range_join"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the ±band predicate must ride the bucket equi-join key:\n$p")
  }

  test("projectSigned is one keyed aggregation — no joins, no windows") {
    val emb = (0 until 30).map(i =>
      (i.toLong, Array.fill(8)(i.toFloat / 7f))).toDF("vec_id", "embedding")
    val p = plan(EmbeddingOps.projectSigned(emb, outDim = 4))
    assert(!p.contains("Window") && !p.contains("Join"),
      s"the implicit sign matrix must not introduce joins or windows:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation keyed by vec_id:\n$p")
  }

  test("semanticDedup's bulk pair scan scores int8 — exact cosine only on survivors") {
    val emb = (0 until 40).map(i =>
      (i.toLong, Array.fill(8)(((i * 7 + 3) % 11).toFloat - 5f))).toDF("vec_id", "embedding")
    val ps = executedPlans {
      Dedup.semanticDedup(emb, nlist = 4, threshold = 0.9).collect()
    }
    assert(ps.nonEmpty, "no executed plans captured")
    assert(ps.exists(_.contains("dot_product_int8")),
      s"the cid-keyed self-join must score the quantized vectors:\n${ps.mkString("\n---\n")}")
    ps.foreach(p =>
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"every stage must be a keyed equi-join:\n$p"))
  }

  test("graph ANN build: every executed job is keyed, top-g prunes map-side") {
    val emb = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)(((i * 13 + 5) % 17).toFloat - 8f))).toDF("vec_id", "embedding")
    // the build is eager per refinement round, so inspect every
    // executed job rather than the (cache-hidden) final plan
    val ps = executedPlans {
      Similarity.knnGraph(emb, g = 4, nlist = 4).collect()
    }
    assert(ps.nonEmpty, "no executed plans captured")
    ps.foreach(p =>
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"graph build must be equi-joins, never pair cross products:\n$p"))
    // the per-src top-g is the TopEdges bounded-buffer aggregate, so
    // the partial ObjectHashAggregate MAP-SIDE-COMBINES each task's
    // pairs to ≤g per local src before the Exchange — O(n·g) edges
    // ship, never O(pairs) rows, and nothing window-sorts the bulk
    assert(ps.exists(p => p.contains("ObjectHashAggregate")
        && p.contains("partial_top_edges")),
      s"the per-src top-g must map-side-combine via partial top_edges:\n${ps.size} plans, none had a partial top_edges ObjectHashAggregate")
    ps.foreach(p =>
      assert(!(p.contains("top_edges") && p.contains("WindowGroupLimit")),
        s"top-g must not regress to an event-level window sort:\n$p"))
  }

  test("graph ANN traversal: every executed job is keyed, beam prunes map-side") {
    val emb = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)(((i * 13 + 5) % 17).toFloat - 8f))).toDF("vec_id", "embedding")
    val ps = executedPlans {
      Similarity.graphTopK(emb, emb.filter(col("vec_id") % 20 === 0),
        k = 3, g = 4, beam = 8, hops = 1, nlist = 4, seedProbe = 2).collect()
    }
    assert(ps.nonEmpty, "no executed plans captured")
    ps.foreach(p =>
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"graph build and traversal must be equi-joins, never pair cross products:\n$p"))
    assert(ps.exists(_.contains("WindowGroupLimit")),
      s"the per-query beam (rank <= beam) must prune map-side:\n${ps.size} plans, none had WindowGroupLimit")
  }

  test("Dedup.minhash applies the kernel per row — no Exchange") {
    val p = plan(Dedup.minhash(nearDupDocs))
    assert(graft.tools.Plans.exchangeCount(p) == 0, s"minhash must not shuffle:\n$p")
  }

  test("near-dup admission plan: pinned Exchange count") {
    // the corpus band index's bucket-cap window, the two small static
    // sides broadcast into the candidate joins, and the per-doc fold
    val p = plan(nearDupAdmission)
    assert(graft.tools.Plans.exchangeCount(p) == 4, s"the admission plan's exchanges moved:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2 &&
      "BroadcastExchange".r.findAllIn(p).size == 2, s"expected 2 shuffles + 2 broadcasts:\n$p")
  }

  test("building the minhash and admission plans runs no job") {
    val n = jobsLaunchedBy {
      Dedup.minhash(nearDupDocs).queryExecution.executedPlan
      nearDupAdmission.queryExecution.executedPlan
    }
    assert(n == 0, s"building the plans ran $n jobs")
  }

  /** Vector admission fixtures: a 60-vector corpus in 3 direction
    * clusters with its stored semantic index (built here, outside any
    * counted block), and a 4-vector batch. */
  private lazy val vecCorpus = (0 until 60).map { i =>
    val v = Array.fill(8)(0.0)
    v(i % 3) = 10.0
    v(3 + i % 5) = 1.0 + (i % 7) * 0.1
    (i.toLong, v.toSeq)
  }.toDF("vec_id", "embedding")
  private lazy val vecBatch = vecCorpus.filter(col("vec_id") % 15 === 0)
    .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
  private lazy val semDir = {
    val d = suiteDir("graft_sem_plan")
    Dedup.buildSemanticIndex(vecCorpus, nlist = 4, d)
    d
  }
  private def semanticAdmission =
    Dedup.incrementalSemanticAdmission(vecBatch, vecCorpus, semDir).toDF()
  private def embeddingAdmission =
    Dedup.incrementalEmbeddingAdmission(vecBatch, vecCorpus, dim = 8).toDF()

  test("vector admission plans: pinned Exchange count") {
    // the two static sides (stored cells or corpus buckets, and the
    // float vectors of the exact vote) broadcast into the left joins,
    // and the per-vector fold's hash shuffle
    Seq(semanticAdmission, embeddingAdmission).foreach { df =>
      val p = plan(df)
      assert(graft.tools.Plans.exchangeCount(p) == 3, s"the admission plan's exchanges moved:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1 &&
        "BroadcastExchange".r.findAllIn(p).size == 2, s"expected 1 shuffle + 2 broadcasts:\n$p")
    }
  }

  test("building the embedding admission plan runs no job") {
    val n = jobsLaunchedBy(embeddingAdmission.queryExecution.executedPlan)
    assert(n == 0, s"building the plan ran $n jobs")
  }

  test("building the LSH top-k and LSH near-dup frames runs no job") {
    val n = jobsLaunchedBy {
      Similarity.lshTopK(vecCorpus, vecBatch, k = 3, bits = 2, dim = 8)
        .queryExecution.executedPlan
      Dedup.embeddingNearDupLsh(vecCorpus, vecBatch, threshold = 0.5, dim = 8)
        .queryExecution.executedPlan
    }
    assert(n == 0, s"building the LSH frames ran $n jobs")
  }

  test("building the stored BM25 and IVF×int8 serving frames runs no job") {
    val docs = (0 until 40).map(i => (i.toLong, s"alpha${i % 3} beta w$i"))
      .toDF("doc_id", "text")
    val emb = (0 until 40).map(i =>
      (i.toLong, Seq.tabulate(8)(j => ((i * 7 + j * 3) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
    val bm25 = suiteDir("bm25")
    val ivfq = suiteDir("ivfq")
    Retrieval.buildIndex(docs, bm25, nBuckets = 4)
    AnnIndex.buildIvfqIndex(emb, ivfq, nlist = 2, seed = 11L)
    def frames(): Int = jobsLaunchedBy {
      Retrieval.bm25TopKFromIndex(spark, bm25, Seq("beta", "alpha1"), nBuckets = 4)
        .queryExecution.executedPlan
      AnnIndex.ivfqTopKFromPath(spark, ivfq, emb, emb.filter(col("vec_id") < 3), k = 3)
        .queryExecution.executedPlan
    }
    assert(frames() == 0, "building the serving frames ran a job")
    Retrieval.deleteIndex(docs.filter(col("doc_id") < 5).select("doc_id"), bm25)
    AnnIndex.deleteVectors(emb.filter(col("vec_id") > 35).select("vec_id"), ivfq)
    assert(frames() == 0, "building the serving frames over tombstones ran a job")
  }

  test("the LSH frames require a positive dim") {
    intercept[IllegalArgumentException](Similarity.lshTopK(vecCorpus, vecBatch, k = 3, dim = 0))
    intercept[IllegalArgumentException](
      Dedup.embeddingNearDupLsh(vecCorpus, vecBatch, threshold = 0.5, dim = 0))
  }

  test("building the semantic admission plan runs only the sidecar collects") {
    semDir // the index is built before the counted block
    // one collect each of dir/cells_coarse and dir/cells_fine; the
    // stored schemas are stated, so no schema-inference job runs
    val n = jobsLaunchedBy(semanticAdmission.queryExecution.executedPlan)
    assert(n == 2, s"building the plan ran $n jobs")
  }

  /** Per modality: the engine, the prints of a 40-doc planted-twin
    * corpus, and its stored index with the planted re-crawl batch
    * (index built here, outside any counted block). */
  private lazy val mediaFixtures = {
    val docs = (0L until 40L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    Seq[(MediaDedup, DataFrame => DataFrame, DataFrame => DataFrame, DataFrame => DataFrame)](
      (ImageDedup, ImageDedup.withPlantedTwins, ImageDedup.withPlantedImages,
        ImageDedup.plantedRecrawlBatch),
      (AudioDedup, AudioDedup.withPlantedTwins, AudioDedup.withPlantedClips,
        AudioDedup.plantedRecrawlBatch),
      (VideoDedup, VideoDedup.withPlantedTwins, VideoDedup.withPlantedStreams,
        VideoDedup.plantedRecrawlBatch)).map { case (m, twins, stored, recrawl) =>
      val dir = suiteDir("graft_media_plan")
      m.buildIndex(stored(docs), dir)
      (m, twins(docs), recrawl(docs), dir)
    }
  }

  test("media admission plan: pinned Exchange count") {
    // the two static sides broadcast into the bucket and rep joins, and
    // the per-doc fold's hash shuffle — no shuffle of a stored table
    mediaFixtures.foreach { case (m, _, batch, dir) =>
      val p = plan(m.admission(batch, dir).toDF())
      assert(graft.tools.Plans.exchangeCount(p) == 3, s"the admission plan's exchanges moved:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1 &&
        "BroadcastExchange".r.findAllIn(p).size == 2, s"expected 1 shuffle + 2 broadcasts:\n$p")
    }
  }

  test("building the media pair, verdict and admission plans runs no job") {
    val fx = mediaFixtures
    val n = jobsLaunchedBy {
      fx.foreach { case (m, corpus, batch, dir) =>
        val prints = m.prints(corpus)
        m.nearDupPairs(prints).queryExecution.executedPlan
        m.dedupFromFamilies(corpus.select(col("doc_id")), m.families(prints))
          .queryExecution.executedPlan
        m.admission(batch, dir).queryExecution.executedPlan
      }
    }
    assert(n == 0, s"building the media plans ran $n jobs")
  }
}
