package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession per suite (spark_guide.md pattern), and
  * one temp root per suite run that [[Materialize.withTempDir]] deletes
  * when the suite ends, pass or fail. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  @volatile private var suiteRoot: String = _
  private val suiteDirs = new AtomicInteger()

  /** A fresh empty directory under this suite's temp root. */
  protected def suiteDir(prefix: String): String = {
    val d = new java.io.File(suiteRoot, s"${prefix}_${suiteDirs.incrementAndGet()}")
    require(d.mkdirs(), s"cannot create $d")
    d.getAbsolutePath
  }

  override def run(testName: Option[String], args: Args): Status =
    Materialize.withTempDir(s"graft_${getClass.getSimpleName}") { root =>
      suiteRoot = root
      val status = super.run(testName, args)
      status.waitUntilCompleted()
      status
    }

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
