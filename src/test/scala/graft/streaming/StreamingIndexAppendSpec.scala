package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}
import graft.operators.Retrieval

/** Streaming full-index maintenance: documents ingested through
  * [[StreamingIndexAppend.sink]] across arbitrary micro-batch splits
  * must yield a stored BM25 index that SERVES bit-identically to a
  * single batch build over the same documents — including the first
  * micro-batch bootstrapping an empty directory. */
class StreamingIndexAppendSpec extends SparkTestBase {

  private val nBuckets = 8

  private def corpus = (0 until 60).map { i =>
    (i.toLong, s"alpha${i % 5} shared beta${i % 7} filler word${i % 3} " +
      s"gamma${i % 11} shared tail${i % 2}")
  }

  test("stream-ingested index serves bit-identically to a batch build") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = corpus
    Materialize.withTempDir("bm25_stream") { streamDir =>
      Materialize.withTempDir("bm25_batchref") { batchDir =>
        val stream = MemoryStream[(Long, String)]
        val q = StreamingIndexAppend.sink(
            stream.toDS().toDF("doc_id", "text"), streamDir, nBuckets = nBuckets)
          .start()
        try {
          // three uneven micro-batches; the first bootstraps the index
          stream.addData(docs.take(10): _*); q.processAllAvailable()
          stream.addData(docs.slice(10, 11): _*); q.processAllAvailable()
          stream.addData(docs.drop(11): _*); q.processAllAvailable()
        } finally q.stop()

        val batch = docs.toDF("doc_id", "text")
        Retrieval.buildIndex(batch, batchDir, nBuckets = nBuckets, filesPerShard = 2)

        // merged stats equal the batch build's
        val sS = spark.read.parquet(s"$streamDir/stats").collect().head
        val sB = spark.read.parquet(s"$batchDir/stats").collect().head
        assert(sS.getAs[Long]("n_docs") == sB.getAs[Long]("n_docs"))
        assert(sS.getAs[Long]("sum_dl") == sB.getAs[Long]("sum_dl"))

        // served top-k identical on the batch-derived query terms
        val qterms = Retrieval.dfCounts(batch)
          .filter(!col("term").isin("the", "a", "of", "and", "in"))
          .orderBy(col("df").desc, col("term")).limit(3)
          .collect().map(_.getString(0)).toSeq
        val fromStream = Retrieval.bm25TopKFromIndex(spark, streamDir, qterms,
          k = 10, nBuckets = nBuckets).collect().map(_.toSeq).toSeq
        val fromBatch = Retrieval.bm25TopKFromIndex(spark, batchDir, qterms,
          k = 10, nBuckets = nBuckets).collect().map(_.toSeq).toSeq
        assert(fromStream == fromBatch,
          "stream-ingested index serves differently from the batch build")
      }
    }
  }

  test("maintaining sink compacts mid-stream with serving unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = corpus
    Materialize.withTempDir("bm25_maintain") { streamDir =>
      Materialize.withTempDir("bm25_maintref") { batchDir =>
        val stream = MemoryStream[(Long, String)]
        // 6 micro-batches × ≤2 files/bucket against a 3-file cap: the
        // compaction valve MUST fire mid-stream for counts to stay legal
        val q = StreamingIndexAppend.maintainingSink(
            stream.toDS().toDF("doc_id", "text"), streamDir,
            nBuckets = nBuckets, maxFilesPerBucket = 3)
          .start()
        try {
          docs.grouped(10).foreach { g =>
            stream.addData(g: _*); q.processAllAvailable()
          }
        } finally q.stop()
        // every bucket's file count is back under the cap…
        val over = graft.sources.CorpusSink.oversizedShards(spark,
          s"$streamDir/postings", "term_bucket", maxFiles = 3)
        assert(over.isEmpty, s"buckets past the cap after maintenance: $over")
        // …and serving is bit-identical to a batch build
        val batch = docs.toDF("doc_id", "text")
        Retrieval.buildIndex(batch, batchDir, nBuckets = nBuckets,
          filesPerShard = 2)
        val qterms = Retrieval.dfCounts(batch)
          .filter(!col("term").isin("the", "a", "of", "and", "in"))
          .orderBy(col("df").desc, col("term")).limit(3)
          .collect().map(_.getString(0)).toSeq
        def serve(d: String) = Retrieval.bm25TopKFromIndex(spark, d, qterms,
          k = 10, nBuckets = nBuckets).collect().map(_.toSeq).toSeq
        assert(serve(streamDir) == serve(batchDir),
          "maintained stream index serves differently from the batch build")
      }
    }
  }
}
