package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.{Dedup, MediaDedup}

/** Media admission, batch and stream, for one modality of the engine
  * (graft.operators.MediaDedup): ONE plan must return the fixture's
  * literal verdict table whether it runs as a batch call, under every
  * micro-batch arrival pattern, or across a checkpointed restart, with
  * zero state rows — and null media is undecodable everywhere.
  *
  * Fixture: the stored index of docs 0..59's planted media; the batch
  * is the planted re-crawl of the ≡0 (mod 20) stratum (near twins
  * under +1,000,000, far variants under +2,000,000), an exact copy of
  * doc 11 under 3,000,011 and junk bytes under 999. */
abstract class MediaAdmissionBehaviour(m: MediaDedup, tag: String,
                                       stored: DataFrame => DataFrame,
                                       recrawl: DataFrame => DataFrame,
                                       plant: Long => Array[Byte])
    extends SparkTestBase {

  import spark.implicits._

  /** The verdicts of the fixture, as the pre-engine admission gave them. */
  private val expected = Map(
    999L -> (("novel", None, true)),
    1000000L -> (("near_dup", Some(0L), false)),
    1000020L -> (("near_dup", Some(20L), false)),
    1000040L -> (("near_dup", Some(40L), false)),
    2000000L -> (("novel", None, true)),
    2000020L -> (("novel", None, true)),
    2000040L -> (("novel", None, true)),
    3000011L -> (("near_dup", Some(11L), false)))

  private lazy val docs = (0L to 59L).map(id => (id, s"text $id")).toDF("doc_id", "text")
  private lazy val dir = {
    val d = suiteDir(s"graft_${tag}_twin")
    m.buildIndex(stored(docs), d)
    d
  }
  private lazy val batchRows = recrawl(docs).as[(Long, Array[Byte])].collect().toSeq ++ Seq(
    (3000011L, plant(11L)), (999L, "not a media file".getBytes("UTF-8")))

  private def verdicts(df: DataFrame): Map[Long, (String, Option[Long], Boolean)] =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[String]("status"), Option(r.getAs[java.lang.Long]("match_id")).map(_.toLong),
        r.getAs[Boolean]("keep")))).toMap

  /** Run `batches` through a MemoryStream admission; the sink's rows. */
  private def streamed(name: String, batches: Seq[Seq[(Long, Array[Byte])]]): DataFrame = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = m.admission(mem.toDF().toDF("doc_id", "media"), dir)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // non-vacuous zero-state check: progress was observed, and EVERY
      // observed snapshot holds no state rows
      assert(q.recentProgress.nonEmpty, "no streaming progress observed")
      q.recentProgress.foreach(p =>
        assert(p.stateOperators.forall(_.numRowsTotal == 0),
          "admission fold must keep zero state rows"))
    } finally q.stop()
    spark.table(name)
  }

  test("streaming verdicts equal batch verdicts per arrival pattern; state stays empty") {
    assert(verdicts(m.admission(batchRows.toDF("doc_id", "media"), dir).toDF()) == expected)
    val patterns = Seq(
      Seq(batchRows),
      batchRows.map(Seq(_)),
      Seq(batchRows.take(4), batchRows.drop(4)))
    patterns.zipWithIndex.foreach { case (batches, pi) =>
      val out = streamed(s"${tag}_adm_$pi", batches)
      assert(out.count() == batchRows.size, s"pattern $pi: one verdict per doc")
      assert(verdicts(out) == expected, s"pattern $pi diverged")
    }
  }

  test("checkpointed restart resumes admission without re-emitting verdicts") {
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    val root = suiteDir(s"graft_${tag}_ckpt")
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(in).mkdirs()
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("media", BinaryType)))
    def run(): Unit = {
      val q = m.admission(spark.readStream.schema(schema).parquet(in), dir)
        .writeStream.outputMode("append").option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      try q.processAllAvailable() finally q.stop()
    }
    batchRows.take(3).toDF("doc_id", "media").coalesce(1).write.mode("append").parquet(in)
    run()
    // the rest lands while the query is DOWN; the restart must pick it
    // up from the checkpoint and emit each verdict exactly once
    batchRows.drop(3).toDF("doc_id", "media").coalesce(1).write.mode("append").parquet(in)
    run()
    val rows = spark.read.parquet(out)
    assert(rows.count() == batchRows.size, "expected one verdict per doc")
    assert(verdicts(rows) == expected)
  }

  test("null media is undecodable: dedup keeps it, buildIndex skips it, admission says novel") {
    val none: Array[Byte] = null
    // dedup keeps the null row (nothing verified against it)
    val corpus = stored((0L to 9L).map(id => (id, s"t$id")).toDF("doc_id", "text"))
      .unionByName(Seq((500L, none)).toDF("doc_id", "media"))
    val res = m.dedup(corpus)
    try {
      val v = verdicts(res.withColumn("status", lit("")))
      assert(v(500L) == (("", None, true)) && v.size == 11)
    } finally res.unpersist(blocking = false)
    // buildIndex skips it
    val d = suiteDir(s"graft_${tag}_null")
    m.buildIndex(corpus, d)
    val reps = spark.read.parquet(s"$d/reps").select(col("doc_id")).as[Long].collect().toSet
    assert(!reps.contains(500L) && reps.nonEmpty)
    // admission: novel in a batch call and in a micro-batch
    val rows = Seq((600L, none), batchRows.head)
    val want = Map(600L -> (("novel", None, true)), batchRows.head._1 -> expected(batchRows.head._1))
    assert(verdicts(m.admission(rows.toDF("doc_id", "media"), dir).toDF()) == want)
    assert(verdicts(streamed(s"${tag}_null", Seq(rows))) == want)
    assert(want(batchRows.head._1)._1 == Dedup.NearDup)
  }
}
