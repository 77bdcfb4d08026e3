package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}
import graft.operators.{AnnIndex, Similarity}

/** Streaming IVF-index maintenance: embeddings ingested through
  * [[StreamingAnnAppend.sink]] across arbitrary micro-batch splits
  * must leave the stored index ROW-identical to one batch append of
  * the same vectors (build and append share one quantize+assign
  * function under the frozen centroids), hence serving
  * bit-identically — the vector twin of `StreamingIndexAppendSpec`. */
class StreamingAnnAppendSpec extends SparkTestBase {

  private def clustered(nClusters: Int, perCluster: Int, dim: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian() * 5))
    (for (c <- 0 until nClusters; i <- 0 until perCluster) yield {
      val id = (c * perCluster + i).toLong
      (id, centers(c).map(v => (v + rnd.nextGaussian()).toFloat).toSeq)
    }).toDF("vec_id", "embedding")
  }

  test("stream-ingested ivfq index is row- and serving-identical to a batch append") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = clustered(4, 30, 16, seed = 23)
    val old = emb.filter(col("vec_id") % 3 === 0)
    val arriving = emb.filter(col("vec_id") % 3 =!= 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
    Materialize.withTempDir("ann_stream") { streamDir =>
      Materialize.withTempDir("ann_batchref") { batchDir =>
        // fit offline once — both dirs share the centroids, the
        // production split StreamingAnnAppend's scaladoc describes
        val centroids = AnnIndex.buildIvfqIndex(old, streamDir, nlist = 4,
          seed = 11L)
        AnnIndex.writeCentroids(spark, centroids, batchDir)
        graft.sources.CorpusSink.writeParquet(
          spark.read.parquet(s"$streamDir/vectors"), s"$batchDir/vectors",
          shardCol = "cid", sortCol = "vec_id", filesPerShard = 2)

        val stream = MemoryStream[(Long, Seq[Float])]
        val q = StreamingAnnAppend.sink(
            stream.toDS().toDF("vec_id", "embedding"), streamDir)
          .start()
        try {
          // three uneven micro-batches
          stream.addData(arriving.take(20): _*); q.processAllAvailable()
          stream.addData(arriving.slice(20, 21): _*); q.processAllAvailable()
          stream.addData(arriving.drop(21): _*); q.processAllAvailable()
        } finally q.stop()

        AnnIndex.appendIvfq(
          arriving.toDF("vec_id", "embedding"), batchDir)

        // stored rows identical (as multisets — file split differs)
        def rows(dir: String) = spark.read.parquet(s"$dir/vectors")
          .collect().map(_.toSeq).sortBy(_.toString).toSeq
        assert(rows(streamDir) == rows(batchDir),
          "stream-ingested rows diverge from the batch append")

        // served top-k identical, and the recall contract holds
        val queries = emb.filter(col("vec_id").isin(5L, 35L, 65L, 95L, 4L))
        def served(dir: String) = AnnIndex.ivfqTopKFromPath(spark, dir, emb,
          queries, k = 3, nProbe = 2, rerank = 4)
        val fromStream = served(streamDir)
        assert(fromStream.collect().map(_.toSeq).toSeq ==
          served(batchDir).collect().map(_.toSeq).toSeq)
        val exact = Similarity.bruteForceTopK(emb, queries, k = 3)
        val recall = Similarity.meanRecall(fromStream, exact)
          .head().getAs[Double]("recall")
        assert(recall >= 0.6, s"stream-ingested index recall $recall below contract")
      }
    }
  }
}
