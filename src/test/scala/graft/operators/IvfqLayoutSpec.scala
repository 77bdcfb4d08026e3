package graft.operators

import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}
/** The IVF+int8 scale claim made concrete: build the full stored
  * index once ([[AnnIndex.buildIvfqIndex]] — cid-partitioned int8
  * vectors AND the centroid sidecar), and prove that serving
  * entirely from disk ([[AnnIndex.ivfqTopKFromPath]], no in-session
  * fit) scans ONLY the stored int8 index in stage 1 — the float
  * `embedding` column never appears in the quantized scan's read
  * schema, and exact vectors are read solely for the bounded
  * re-rank candidate set. */
class IvfqLayoutSpec extends SparkTestBase {

  private def clusteredEmb(n: Int, dim: Int, nAxes: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val axis = i % nAxes
      (i.toLong, Array.tabulate(dim)(j =>
        ((if (j == axis) 10.0 else 0.0) + rnd.nextGaussian() * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("stage 1 scans the stored int8 index, never the float embeddings") {
    val emb = clusteredEmb(n = 400, dim = 8, nAxes = 4, seed = 13)
    Materialize.withTempDir("ivfq_layout") { dir =>
      // the full stored form: cid-partitioned int8 vectors + the
      // centroid sidecar ([[AnnIndex.buildIvfqIndex]]); serving
      // round-trips entirely from disk with no in-session fit
      AnnIndex.buildIvfqIndex(emb, dir, nlist = 4, seed = 11L,
        filesPerShard = 2)
      val stored = spark.read.parquet(s"$dir/vectors")
      // the stored index is the 4x-smaller form: int8 array + scale
      assert(stored.schema("qv").dataType.simpleString == "array<tinyint>")
      assert(!stored.columns.contains("embedding"))

      val queries = emb.filter(col("vec_id") % 100 === 0)
      val ann = AnnIndex.ivfqTopKFromPath(spark, dir, emb, queries,
        k = 5, nProbe = 2, rerank = 4)

      // plan evidence: the parquet scan of the stored index reads
      // qv/scale/cid only — no float embedding column anywhere in it
      val plan = ann.queryExecution.executedPlan.toString
      val scanLines = plan.linesIterator.filter(_.contains("FileScan")).toList
      assert(scanLines.nonEmpty, "expected a parquet FileScan of the index")
      assert(scanLines.exists(_.contains("qv")), s"index scan missing qv: $scanLines")
      assert(!scanLines.exists(_.contains("embedding")),
        s"stage-1 plan scanned the float embedding column: $scanLines")

      // and the result still honors the recall contract vs exact
      val exactTop = Similarity.bruteForceTopK(emb, queries, k = 5)
      val recall = Similarity.meanRecall(ann, exactTop)
        .head().getAs[Double]("recall")
      assert(recall >= 0.5, s"ivfq recall $recall below contract")
    }
  }

  test("quantizedCorpus round-trips within int8 distortion and keeps order") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector: scale 0, qv zeros
      (3L, Array(127.0f, -127.0f, 1.0f, 63.5f))
    ).toDF("vec_id", "embedding")
    val df = Similarity.quantizedCorpus(emb)
    val qvIdx = df.columns.indexOf("qv")
    val out = df.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getSeq[Byte](qvIdx).toList, r.getAs[Double]("scale"))).toMap
    assert(out(1L)._1 == List[Byte](64, -127, 32, 0))
    assert(math.abs(out(1L)._2 - 1.0 / 127.0) < 1e-12)
    assert(out(2L)._1 == List[Byte](0, 0, 0, 0) && out(2L)._2 == 0.0)
    // element ORDER is preserved through the explode/rebuild
    assert(out(3L)._1 == List[Byte](127, -127, 1, 64))
  }
}
