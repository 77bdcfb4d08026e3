package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.Bridge

import graft.{Bench, Session, SparkEntry}

/** Per-key engine profiler: runs each `SparkEntry.queries` key twice
  * (the second run is steady state: memo caches hot, codegen cached)
  * with the Bench canaries on each side, and prints for each run one
  * JSON record — wall, jobs, stages, tasks, single-task stages, in-job
  * time, driver gap between jobs, and shuffle, spill and result bytes —
  * followed by the run's jobs in start order, each with its call site
  * and duration. The job list is where a key's sub-steps show: every
  * collect, count, broadcast and write is its own line.
  *
  * The record is a time window over an engine listener, the batch
  * counterpart of Structured Streaming's per-trigger progress record.
  *
  * `SPARK_GRAFT_CPUS=4 runMain graft.tools.Prof <sfDir> <key>...`
  */
object Prof {

  /** One job of a record. `site` is the call site of the action that
    * ran it (`collect at AnnQueries.scala:434`): the SQL
    * execution's, else the result stage's name (AQE runs a query's
    * stages from its own threads, whose stage names say nothing).
    * Times are epoch ms; `end` is `Long.MaxValue` for a job still
    * running. */
  final case class Job(id: Int, site: String, start: Long, end: Long)

  /** What one unit of work did on the engine. */
  final case class Record(wallS: Double, jobs: Seq[Job], stages: Int, tasks: Int,
                          singleTaskStages: Int, inJobS: Double, driverGapS: Double,
                          shuffleWriteBytes: Long, spillBytes: Long, resultBytes: Long) {
    def json: String = {
      def mb(b: Long) = f"${b / 1e6}%.3f"
      f""""wall_s":$wallS%.3f,"jobs":${jobs.size},"stages":$stages,"tasks":$tasks,""" +
        f""""single_task_stages":$singleTaskStages,"in_job_s":$inJobS%.3f,""" +
        f""""driver_gap_s":$driverGapS%.3f,"shuffle_write_mb":${mb(shuffleWriteBytes)},""" +
        s""""spill_mb":${mb(spillBytes)},"result_mb":${mb(resultBytes)}"""
    }
  }

  private final case class Task(stage: Int, resultBytes: Long,
                                shuffleWriteBytes: Long, spillBytes: Long)

  /** Engine-side record of every job, stage and task, kept in memory
    * and read by time window. Times are epoch milliseconds, the
    * resolution Spark stamps its events with. */
  final class Listener extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageTasks = mutable.HashMap.empty[Int, Int] // completed stage -> tasks
    private val tasks = mutable.ArrayBuffer.empty[Task]
    private val jobOfStage = mutable.HashMap.empty[Int, Int]
    private val executionSite = mutable.HashMap.empty[Long, String]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized {
        executionSite(x.executionId) = x.description
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSite.get(id.toLong))
        // the result stage is created last, so it has the job's highest id
        .getOrElse(e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""))
      jobs(e.jobId) = Job(e.jobId, site, e.time, Long.MaxValue)
      e.stageIds.foreach(jobOfStage(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageTasks(e.stageInfo.stageId) = e.stageInfo.numTasks
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null)
        tasks += Task(e.stageId, m.resultSize, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled)
    }

    /** Totals of the jobs started in [from, to]. */
    def window(from: Long, to: Long): Record = synchronized {
      val js = jobs.values.filter(j => j.start >= from && j.start <= to).toSeq.sortBy(_.start)
      val ids = js.map(_.id).toSet
      val ts = tasks.filter(t => jobOfStage.get(t.stage).exists(ids))
      val ss = stageTasks.filter { case (s, _) => jobOfStage.get(s).exists(ids) }
      val wallMs = math.max(1L, to - from)
      // union of job intervals, clipped to the window
      var covered = 0L
      var reach = from
      js.foreach { j =>
        val s = math.max(j.start, reach)
        val e = math.min(j.end, to)
        if (e > s) { covered += e - s; reach = e }
      }
      Record(wallMs / 1e3, js, ss.size, ts.size, ss.count(_._2 == 1),
        covered / 1e3, (wallMs - covered) / 1e3, ts.map(_.shuffleWriteBytes).sum,
        ts.map(_.spillBytes).sum, ts.map(_.resultBytes).sum)
    }
  }

  /** Runs `body` and returns its value with the record of its window.
    * Waits for the listener bus to deliver every event posted so far,
    * so each job end, stage and task of the window is in the record. */
  def record[A](spark: SparkSession, listener: Listener)(body: => A): (A, Record) = {
    val from = System.currentTimeMillis()
    val a = body
    val to = System.currentTimeMillis()
    Bridge.drainListenerBus(spark.sparkContext)
    (a, listener.window(from, to))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Prof <sfDir> <key>...")
    val sfDir = args(0); val keys = args.drop(1).toSeq
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    val width = Session.cpus
    Session.run(width) { spark =>
      Bench.warmup(spark, sfDir)
      val listener = new Listener
      spark.sparkContext.addSparkListener(listener)
      // the first parallel canary is JIT-cold; warm both paths first
      Bench.canaryMops(); Bench.parallelCanaryMops(width)
      def canaries() = (Bench.canaryMops(), Bench.parallelCanaryMops(width))
      var pre = canaries()
      for (key <- keys; run <- 1 to 2) {
        val (rows, rec) = record(spark, listener)(SparkEntry.queries(key)(spark, sfDir).count())
        Session.cleanup(spark)
        val post = canaries()
        println(f"""[prof] {"key":"$key","run":$run,"rows":$rows,${rec.json},""" +
          f""""canary_mops":[${pre._1}%.0f,${post._1}%.0f],""" +
          f""""par_mops":[${pre._2}%.0f,${post._2}%.0f]}""")
        rec.jobs.foreach { j =>
          val dur = if (j.end == Long.MaxValue) "   open" else f"${(j.end - j.start) / 1e3}%7.3f"
          println(f"[prof]   job ${j.id}%5d $dur s  ${j.site}")
        }
        pre = post
      }
    }
  }
}
