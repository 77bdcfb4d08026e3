package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.streaming.StatefulSessions.Event

/** Fault-tolerance contract of the streaming surface: a watermarked
  * windowed aggregation stopped mid-stream and RESTARTED from its
  * checkpoint must emit every window exactly once — no loss (state
  * store partials survive the restart), no duplicates (offsets are
  * replayed from the checkpoint log, not from scratch). This is the
  * property a 1000-executor cluster leans on every time a driver or
  * executor dies mid-job; memory-sink parity specs can't see it
  * because the memory sink is not recoverable.
  */
class CheckpointRecoverySpec extends SparkTestBase {

  private val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
  private def ev(id: Long, min: Int, typ: String, v: Double) =
    Event(id, ts(min), 1L, typ, v, "{}")

  test("windowed agg restarted from checkpoint emits each window exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = new java.io.File(suiteDir("ckpt-recovery"))
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    val out = new java.io.File(dir, "out").getAbsolutePath
    val stream = MemoryStream[Event]

    def startQuery() =
      EventStreams.tumblingAggStream(stream.toDF(), watermark = "10 minutes")
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n_events"), col("sum_value"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()

    // window 1 (00:00-01:00): 2 clicks; not emitted yet (watermark)
    val q1 = startQuery()
    try {
      stream.addData(ev(1, 0, "click", 1.0), ev(2, 30, "click", 2.0))
      q1.processAllAvailable()
      // window 2 events advance the watermark past window 1 → w1 emits
      stream.addData(ev(3, 120, "view", 5.0))
      q1.processAllAvailable()
    } finally q1.stop()

    // crash/restart: new query instance, SAME checkpoint + sink.
    // In-flight state (window 2's partial) must survive; window 1
    // must NOT re-emit even though its input offsets are re-read.
    stream.addData(ev(4, 150, "view", 7.0))              // more of window 2
    stream.addData(ev(5, 300, "purchase", 9.0))          // advances past w2
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    // flush window 3 by advancing the watermark far past it
    stream.addData(ev(6, 600, "click", 0.5))
    val q3 = startQuery()
    try q3.processAllAvailable() finally q3.stop()

    val rows = spark.read.parquet(out)
      .collect()
      .map(r => ((r.getAs[java.sql.Timestamp]("w_start").getTime - t0.getTime) / 60000L,
        r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value")))
      .sorted.toSeq
    // exactly-once: w1 click (2 events, sum 3.0) emitted once despite
    // the restart; w2 views merged ACROSS the restart (event 3 before,
    // event 4 after) into one row; w3 purchase emitted once
    assert(rows == Seq(
      (0L, "click", 2L, 3.0),
      (120L, "view", 2L, 12.0),
      (300L, "purchase", 1L, 9.0)))
  }
}
