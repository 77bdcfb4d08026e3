package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** IVF ANN: on clustered data, probing the right coarse cells
  * recovers the true nearest neighbors of the probed clusters. */
class SimilarityIvfSpec extends SparkTestBase {

  test("ivf topk finds within-cluster neighbors; candidates pruned") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // 4 well-separated clusters of 30 vectors each
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian() * 5))
    val vecs = for (c <- 0 until 4; i <- 0 until 30) yield {
      val id = (c * 30 + i).toLong
      (id, centers(c).map(v => (v + rnd.nextGaussian() * 0.1).toFloat).toSeq, c)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val queries = emb.filter(col("vec_id").isin(5L, 35L, 65L, 95L))
    val ivf = Similarity.ivfTopK(emb, queries, k = 3, nlist = 8, nProbe = 2)
      .collect().groupBy(_.getAs[Long]("qid"))
    val bf = Similarity.bruteForceTopK(emb, queries, k = 3)
      .collect().groupBy(_.getAs[Long]("qid"))
    // with tight clusters, IVF's top-3 should equal brute force's
    Seq(5L, 35L, 65L, 95L).foreach { q =>
      val ivfIds = ivf(q).sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
      val bfIds = bf(q).sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
      assert(ivfIds == bfIds, s"query $q: ivf $ivfIds vs bf $bfIds")
    }
  }

  private def clustered(nClusters: Int, perCluster: Int, dim: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian() * 5))
    (for (c <- 0 until nClusters; i <- 0 until perCluster) yield {
      val id = (c * perCluster + i).toLong
      (id, centers(c).map(v => (v + rnd.nextGaussian() * 0.2).toFloat).toSeq)
    }).toDF("vec_id", "embedding")
  }

  test("IVF recall contract: >= 0.6 vs brute force on clustered data") {
    import spark.implicits._
    val emb = clustered(6, 40, 16, seed = 23)
    val queries = emb.filter(col("vec_id") % 37 === 0)
    val ann = Similarity.ivfTopK(emb, queries, k = 5, nlist = 12, nProbe = 3)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
    val r = Similarity.meanRecall(ann, exact).head()
    assert(r.getLong(0) == queries.count(), "every probe must be scored")
    assert(r.getDouble(1) >= 0.6, s"ivf recall ${r.getDouble(1)} < 0.6")
  }

  test("multi-table LSH recall contract: >= 0.6 vs brute force on clustered data") {
    import spark.implicits._
    val emb = clustered(6, 40, 16, seed = 31)
    val queries = emb.filter(col("vec_id") % 37 === 0)
    val ann = Similarity.lshTopK(emb, queries, k = 5, bits = 4, numTables = 8,
      dim = 16)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
    val r = Similarity.meanRecall(ann, exact).head()
    assert(r.getDouble(1) >= 0.6, s"lsh recall ${r.getDouble(1)} < 0.6")
  }

  test("meanRecall counts ANN-missed queries as zero") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("qid", "neighbor_id")
    val ann = Seq((1L, 10L), (1L, 99L)).toDF("qid", "neighbor_id") // query 2 missing
    val r = Similarity.meanRecall(ann, exact).head()
    assert(r.getLong(0) == 2)
    assert(math.abs(r.getDouble(1) - 0.25) < 1e-12) // (0.5 + 0.0) / 2
  }

  test("CentroidCosines matches scalar cosine and nulls zero norms") {
    import spark.implicits._
    val centroids = Array(Array(1.0, 0.0), Array(3.0, 4.0), Array(0.0, 0.0))
    val df = Seq((1L, Seq(2.0, 0.0)), (2L, Seq(0.0, 0.0)))
      .toDF("id", "v")
      .select(col("id"), graft.functions.CentroidCosines.of(col("v"), centroids).as("cs"))
    val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    val cs1 = rows(1L)
    assert(math.abs(cs1(0).asInstanceOf[Double] - 1.0) < 1e-12)
    assert(math.abs(cs1(1).asInstanceOf[Double] - 0.6) < 1e-12) // cos((2,0),(3,4)) = 6/10
    assert(cs1(2) == null, "zero-norm centroid must be null")
    assert(rows(2L).forall(_ == null), "zero-norm vector must null every score")
  }
}
