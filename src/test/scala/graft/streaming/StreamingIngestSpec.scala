package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.operators.Dedup

/** End-to-end file-based ingest: documents landing as parquet files
  * stream through admission against a static fingerprint index into a
  * parquet sink with a checkpoint — the deployment shape of the live
  * curation path (file source → stream-static join → claim state →
  * sink), beyond the MemoryStream harness. */
class StreamingIngestSpec extends SparkTestBase {

  test("parquet-file stream admits documents against the index across batches") {
    import spark.implicits._
    val root = suiteDir("graft_ingest")
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(in).mkdirs()

    val index = Seq("indexed").toDF("fp")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("key", StringType)))

    // batch 1 lands before the query starts
    Seq((1L, "indexed"), (2L, "fresh")).toDF("doc_id", "key")
      .coalesce(1).write.mode("append").parquet(in)

    val stream = spark.readStream.schema(schema).parquet(in)
    val q = StreamingAdmission.admission(stream, index, col("key"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out)
      .start()
    try {
      q.processAllAvailable()
      // batch 2: a late copy of the batch-1 claimant plus a new fp
      Seq((3L, "fresh"), (4L, "another")).toDF("doc_id", "key")
        .coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("status"), r.getAs[Boolean]("keep")))).toMap
    assert(got == Map(
      1L -> ((Dedup.DupOfIndex, false)),
      2L -> ((Dedup.Novel, true)),
      3L -> ((Dedup.DupInBatch, false)), // fp claimed in the earlier file
      4L -> ((Dedup.Novel, true))))
  }
}
