package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}
import graft.operators.{AnnIndex, Retrieval, Similarity}

/** Streaming tombstone maintenance: delete ids arriving across
  * arbitrary micro-batch splits must leave the stored index serving
  * identically to one batch delete call of the same id set — the
  * tombstone mask is a SET, so the split cannot matter (the
  * [[StreamingIndexDelete]] twin invariant). */
class StreamingIndexDeleteSpec extends SparkTestBase {

  private val nBuckets = 8

  private def corpus = (0 until 60).map { i =>
    (i.toLong, s"alpha${i % 5} shared beta${i % 7} filler word${i % 3} " +
      s"gamma${i % 11} shared tail${i % 2}")
  }

  test("stream-deleted bm25 index serves identically to one batch delete") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = corpus.toDF("doc_id", "text")
    val delIds = (0 until 60 by 4).map(_.toLong + 1).filter(_ < 60)
    Materialize.withTempDir("bm25_sdel") { streamDir =>
      Materialize.withTempDir("bm25_bdel") { batchDir =>
        Retrieval.buildIndex(docs, streamDir, nBuckets = nBuckets, filesPerShard = 2)
        Retrieval.buildIndex(docs, batchDir, nBuckets = nBuckets, filesPerShard = 2)

        val stream = MemoryStream[Long]
        val q = StreamingIndexDelete.bm25Sink(
            stream.toDS().toDF("doc_id"), streamDir)
          .start()
        try {
          stream.addData(delIds.take(3): _*); q.processAllAvailable()
          stream.addData(delIds.slice(3, 4): _*); q.processAllAvailable()
          stream.addData(delIds.drop(4): _*); q.processAllAvailable()
          // a replayed micro-batch: deleteIndex filters already-
          // tombstoned ids, so stats cannot double-decrement
          stream.addData(delIds.take(3): _*); q.processAllAvailable()
        } finally q.stop()

        Retrieval.deleteIndex(delIds.toDF("doc_id"), batchDir)

        val sS = spark.read.parquet(s"$streamDir/stats").collect().head
        val sB = spark.read.parquet(s"$batchDir/stats").collect().head
        assert(sS.getAs[Long]("n_docs") == sB.getAs[Long]("n_docs"))
        assert(sS.getAs[Long]("sum_dl") == sB.getAs[Long]("sum_dl"))

        val survivors = docs.filter(!col("doc_id").isin(delIds.map(Long.box): _*))
        val qterms = Retrieval.dfCounts(survivors)
          .orderBy(col("df").desc, col("term")).limit(3)
          .collect().map(_.getString(0)).toSeq
        def serve(d: String) = Retrieval.bm25TopKFromIndex(spark, d, qterms,
          k = 10, nBuckets = nBuckets).collect().map(_.toSeq).toSeq
        val fromStream = serve(streamDir)
        assert(fromStream == serve(batchDir),
          "stream-deleted index serves differently from the batch delete")
        assert(fromStream.nonEmpty)
        assert(fromStream.forall(r => !delIds.contains(r.head)),
          "a stream-deleted doc survived in served results")
      }
    }
  }

  test("stream-deleted ann index equals batch delete; replays are harmless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian() * 5))
    val emb = (for (c <- 0 until 4; i <- 0 until 30) yield {
      val id = (c * 30 + i).toLong
      (id, centers(c).map(v => (v + rnd.nextGaussian()).toFloat).toSeq)
    }).toDF("vec_id", "embedding")
    val delIds = Seq(3L, 13L, 43L, 73L, 103L)
    val queries = emb.filter(col("vec_id").isin(5L, 35L, 65L, 95L))
    Materialize.withTempDir("ann_sdel") { streamDir =>
      Materialize.withTempDir("ann_bdel") { batchDir =>
        AnnIndex.buildIvfqIndex(emb, streamDir, nlist = 4, seed = 11L)
        AnnIndex.buildIvfqIndex(emb, batchDir, nlist = 4, seed = 11L)

        val stream = MemoryStream[Long]
        val q = StreamingIndexDelete.annSink(
            stream.toDS().toDF("vec_id"), streamDir)
          .start()
        try {
          stream.addData(delIds.take(2): _*); q.processAllAvailable()
          stream.addData(delIds.drop(2): _*); q.processAllAvailable()
          // a replayed micro-batch: tombstones are a set, so no effect
          stream.addData(delIds.take(2): _*); q.processAllAvailable()
        } finally q.stop()

        AnnIndex.deleteVectors(delIds.toDF("vec_id"), batchDir)

        def serve(d: String) = AnnIndex.ivfqTopKFromPath(spark, d, emb, queries,
          k = 3, nProbe = 2, rerank = 4).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .sortBy(t => (t._1, t._2)).toList
        val fromStream = serve(streamDir)
        assert(fromStream == serve(batchDir),
          "stream-deleted ann index serves differently from the batch delete")
        assert(fromStream.nonEmpty)
        assert(fromStream.forall(t => !delIds.contains(t._3)),
          "a stream-deleted vector survived in served results")
      }
    }
  }
}
