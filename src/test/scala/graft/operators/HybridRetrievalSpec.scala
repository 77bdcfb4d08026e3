package graft.operators

import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}

/** Reciprocal-rank fusion ([[Retrieval.rrfFuse]]) — the hybrid
  * sparse+dense merge. The gate key (`q_retrieval_hybrid`) oracles
  * the exact-cosine composition; this spec pins the fusion algebra
  * itself and the ANN composition a deployment actually runs. */
class HybridRetrievalSpec extends SparkTestBase {

  test("rrf algebra: exact integer scores, missing side contributes zero") {
    import spark.implicits._
    val sparse = Seq((1L, 1L), (2L, 2L), (4L, 3L)).toDF("doc_id", "rank")
    val dense = Seq((2L, 1L), (3L, 2L)).toDF("doc_id", "rank")
    val got = Retrieval.rrfFuse(sparse, dense, k = 10, kRrf = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toList
    def rr(r: Long) = 1000000000L / (60L + r)
    // doc 2 on both sides wins; one-sided docs ranked by their side
    val expect = List(
      (2L, rr(2) + rr(1), 2L, 1L),
      (1L, rr(1), 1L, 0L),
      (3L, rr(2), 0L, 2L),
      (4L, rr(3), 3L, 0L))
    assert(got == expect, s"got $got")
  }

  test("rrf ties break on doc_id and k cuts the fused list") {
    import spark.implicits._
    // two docs with identical one-sided rank → identical rrf; doc_id asc
    val sparse = Seq((7L, 1L)).toDF("doc_id", "rank")
    val dense = Seq((5L, 1L)).toDF("doc_id", "rank")
    val got = Retrieval.rrfFuse(sparse, dense, k = 1).collect()
    assert(got.length == 1 && got.head.getLong(0) == 5L)
  }

  test("ANN composition: IVF ranks fuse with BM25 ranks from the stored index") {
    import spark.implicits._
    // ids 0..59 exist as BOTH a document and an embedding (the
    // aligned-table shape the gate key uses); vector clusters and
    // lexical content disagree on purpose so fusion has work to do
    val rnd = new scala.util.Random(91)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian() * 5))
    val emb = (0 until 60).map { i =>
      (i.toLong, centers(i % 4).map(v => (v + rnd.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val docs = (0 until 60).map { i =>
      (i.toLong, s"alpha${i % 5} shared beta${i % 7} filler word${i % 3}")
    }.toDF("doc_id", "text")
    Materialize.withTempDir("hybrid_ivf") { dir =>
      AnnIndex.buildIvfqIndex(emb.filter(col("vec_id") =!= 7L), dir, nlist = 4,
        seed = 11L)
      AnnIndex.appendIvfq(emb.filter(col("vec_id") === 7L), dir)
      val dense = AnnIndex.ivfqTopKFromPath(spark, dir, emb,
          emb.filter(col("vec_id") === 7L), k = 20, nProbe = 2, rerank = 4)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      val qterms = docs.filter(col("doc_id") === 7L)
        .select(explode(TextOps.regexTokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("term")).limit(3)
      val sparseTop = Retrieval.bm25Scores(docs, qterms)
        .filter(col("doc_id") =!= 7L)
        .orderBy(col("bm25_e6").desc, col("doc_id")).limit(20)
      val sparse = sparseTop.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25_e6").desc, col("doc_id"))).cast("long"))
      val fused = Retrieval.rrfFuse(sparse, dense, k = 10).collect()
      assert(fused.length == 10)
      // both sides represented in the fused list
      assert(fused.exists(_.getLong(2) > 0L), "no sparse-ranked doc fused")
      assert(fused.exists(_.getLong(3) > 0L), "no dense-ranked doc fused")
      // deterministic: a second run is bit-identical
      val again = Retrieval.rrfFuse(sparse, dense, k = 10).collect()
      assert(fused.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
      // a doc present in BOTH top lists outranks its one-sided rrf
      val both = fused.filter(r => r.getLong(2) > 0 && r.getLong(3) > 0)
      both.foreach { r =>
        assert(r.getLong(1) ==
          1000000000L / (60L + r.getLong(2)) + 1000000000L / (60L + r.getLong(3)))
      }
    }
  }
}
