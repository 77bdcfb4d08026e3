package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.Dedup.VecVerdict

/** Vector admission (graft.operators.Dedup's semantic and embedding
  * families), batch and stream: ONE plan must return a fixture's
  * literal verdict table as a batch call, under every micro-batch
  * arrival pattern and across a checkpointed restart, with zero state
  * rows. Fixture rows are (vec_id, embedding) with the embedding given
  * as doubles and cast to `array<elem>` (`elem` float or double) on
  * the way in; a null embedding stays null. */
trait VectorAdmissionBehaviour extends SparkTestBase {

  import spark.implicits._

  type Verdicts = Map[Long, (String, Option[Long], Boolean)]
  type Rows = Seq[(Long, Seq[Double])]

  def verdicts(df: DataFrame): Verdicts =
    df.collect().map(r => r.getAs[Long]("vec_id") ->
      ((r.getAs[String]("status"), Option(r.getAs[java.lang.Long]("match_id")).map(_.toLong),
        r.getAs[Boolean]("keep")))).toMap

  private def typed(df: DataFrame, elem: String): DataFrame =
    df.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast(s"array<$elem>").as("embedding"))

  def rowsDF(rows: Rows, elem: String): DataFrame = typed(rows.toDF(), elem)

  /** The batch call and three MemoryStream arrival patterns (all in one
    * batch, one row per batch, split after `split` rows) each return
    * `expected`, one verdict per vector, with no state rows. */
  def assertBatchAndStreams(tag: String, admit: DataFrame => Dataset[VecVerdict],
                            rows: Rows, elem: String, expected: Verdicts,
                            split: Int = 2): Unit = {
    assert(verdicts(admit(rowsDF(rows, elem)).toDF()) == expected, s"$elem batch call")
    val patterns = Seq(Seq(rows), rows.map(Seq(_)), Seq(rows.take(split), rows.drop(split)))
    patterns.zipWithIndex.foreach { case (batches, pi) =>
      implicit val sq = spark.sqlContext
      val name = s"${tag}_${elem}_adm_$pi"
      val mem = MemoryStream[(Long, Seq[Double])]
      val q = admit(typed(mem.toDF(), elem))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        // non-vacuous zero-state check: progress was observed, and
        // EVERY observed snapshot holds no state rows
        assert(q.recentProgress.nonEmpty, "no streaming progress observed")
        q.recentProgress.foreach(p =>
          assert(p.stateOperators.forall(_.numRowsTotal == 0),
            "admission fold must keep zero state rows"))
      } finally q.stop()
      val out = spark.table(name)
      assert(out.count() == rows.size, s"$elem pattern $pi: one verdict per vector")
      assert(verdicts(out) == expected, s"$elem pattern $pi diverged")
    }
  }

  /** A parquet-source stream stopped after the first `first` rows and
    * restarted from its checkpoint once the rest landed emits each
    * verdict of `expected` exactly once. */
  def assertRestart(tag: String, admit: DataFrame => Dataset[VecVerdict],
                    rows: Rows, elem: String, expected: Verdicts, first: Int = 3): Unit = {
    val root = suiteDir(s"graft_${tag}_ckpt")
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(in).mkdirs()
    def run(): Unit = {
      val q = admit(spark.readStream.schema(s"vec_id BIGINT, embedding ARRAY<$elem>").parquet(in))
        .writeStream.outputMode("append").option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      try q.processAllAvailable() finally q.stop()
    }
    rowsDF(rows.take(first), elem).coalesce(1).write.mode("append").parquet(in)
    run()
    // the rest lands while the query is DOWN; the restart must pick it
    // up from the checkpoint and emit each verdict exactly once
    rowsDF(rows.drop(first), elem).coalesce(1).write.mode("append").parquet(in)
    run()
    val got = spark.read.parquet(out)
    assert(got.count() == rows.size, s"$elem: expected one verdict per vector")
    assert(verdicts(got) == expected, s"$elem restart diverged")
  }
}
