package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession per suite (spark_guide.md pattern). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Jobs the body launches from this thread. Listener delivery is
    * async, so a marker job submitted last flushes it: events arrive
    * in order, so once the marker's start is seen every earlier one
    * has been. */
  protected def jobsLaunchedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-launched-by-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          seen.add(e.jobId)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted jobs")
    try {
      body
      val marker = sc.submitJob(sc.parallelize(Seq(0), 1), (_: Iterator[Int]) => (),
        Seq(0), (_: Int, _: Unit) => (), ())
      scala.concurrent.Await.ready(marker, scala.concurrent.duration.Duration(60, "s"))
      val markerId = marker.jobIds.head
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.contains(markerId) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(markerId), "listener never saw the marker job")
      seen.size - 1
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = Session.local(4)
}
