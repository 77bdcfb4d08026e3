package graft.operators

import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}
import graft.sources.CorpusSink

/** The JL-within-IVF scale claim made concrete: build the
  * (vec_id, cid, projection) index once ([[Similarity.projIndex]]),
  * store it cid-bucketed ([[CorpusSink]]), and prove stage 1 of
  * [[Similarity.projRerank]] scans ONLY the stored integer index —
  * the float `embedding` column never appears in the index scan's
  * read schema, and exact vectors are read solely for the bounded
  * re-rank candidate set. */
class ProjLayoutSpec extends SparkTestBase {

  private def clusteredEmb(n: Int, dim: Int, nAxes: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val axis = i % nAxes
      (i.toLong, Array.tabulate(dim)(j =>
        ((if (j == axis) 10.0 else 0.0) + rnd.nextGaussian() * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("stage 1 scans the stored integer index, never the float embeddings") {
    val outDim = 16
    val emb = clusteredEmb(n = 400, dim = 8, nAxes = 4, seed = 13)
    val centroids = Similarity.kmeansCentroids(emb, nlist = 4, seed = 11L)
    val index = Similarity.projIndex(emb, centroids, outDim)
    Materialize.withTempDir("proj_layout") { dir =>
      CorpusSink.writeParquet(index, dir, shardCol = "cid",
        sortCol = "vec_id", filesPerShard = 2)
      val stored = spark.read.parquet(dir)
      // the stored index is the narrow integer form: outDim longs +
      // the cell id — 2x smaller than the float vectors, no floats
      assert(stored.columns.toSet ==
        (Set("vec_id", "cid") ++ (0 until outDim).map(j => s"p${j}_e6")))

      val exact = emb.select(col("vec_id"),
          graft.functions.VectorOps.asDoubleArray(col("embedding")).as("cv"))
        .withColumn("cn", graft.functions.VectorOps.l2Norm(col("cv")))
      val queries = emb.filter(col("vec_id") % 100 === 0)
      // probed-fraction budget, the projTopK formula at nProbe=2 of 4
      val keep = math.max(4L * 5, 400L * 2 / (4 * 2))
      val ann = Similarity.projRerank(stored, exact, queries, centroids,
        k = 5, outDim = outDim, nProbe = 2, keep = keep)

      // plan evidence: the parquet scan of the stored index reads the
      // projection/cid columns only — no float embedding anywhere
      val plan = ann.queryExecution.executedPlan.toString
      val scanLines = plan.linesIterator.filter(_.contains("FileScan")).toList
      assert(scanLines.nonEmpty, "expected a parquet FileScan of the index")
      assert(scanLines.exists(_.contains("p0_e6")), s"index scan missing p0_e6: $scanLines")
      assert(!scanLines.exists(_.contains("embedding")),
        s"stage-1 plan scanned the float embedding column: $scanLines")

      // and the result still honors the recall contract vs exact
      val exactTop = Similarity.bruteForceTopK(emb, queries, k = 5)
      val recall = Similarity.meanRecall(ann, exactTop)
        .head().getAs[Double]("recall")
      assert(recall >= 0.5, s"projRerank recall $recall below contract")
    }
  }

  test("projIndex builds cell id and projection in one aggregation pass") {
    val emb = clusteredEmb(n = 100, dim = 8, nAxes = 4, seed = 7)
    val centroids = Similarity.kmeansCentroids(emb, nlist = 4, seed = 11L)
    val index = Similarity.projIndex(emb, centroids, outDim = 8)
    // the carry-key build must not re-join the corpus against itself
    val plan = index.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"projIndex must carry cid through the aggregation, not re-join:\n$plan")
    // cid matches assignCells; projection matches projectSigned
    val viaJoin = EmbeddingOps.projectSigned(emb, outDim = 8)
      .join(Similarity.assignCells(emb, centroids).select("vec_id", "cid"), "vec_id")
    val a = index.orderBy("vec_id").collect().map(_.toSeq.toList)
    val cols = index.columns
    val b = viaJoin.select(cols.head, cols.tail: _*)
      .orderBy("vec_id").collect().map(_.toSeq.toList)
    assert(a.sameElements(b))
  }
}
