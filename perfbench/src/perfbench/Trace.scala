package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each module. A span's name
  * is `<layer>.<call>`; its parent is the span open when it started.
  * Spans are kept in memory and written out once, at the end of the
  * run. All calls into the program happen on the driver thread, so
  * spans nest strictly and a plain stack tracks the parent. Spans are
  * recorded only while [[on]] is set. */
final class Tracer {
  var on = false

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  private val done = ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name, System.nanoTime()) :: open
      try body
      finally {
        val start = open.head._3
        open = open.tail
        done += Span(id, parent, name, start, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Self time per layer: each span's duration minus the time its
    * children cover (children of one parent never overlap), summed
    * over the spans of that layer. */
  def selfSeconds: Map[String, Double] = {
    val childNs = done.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    done.groupMapReduce(s => s.name.takeWhile(_ != '.'))(s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9)(_ + _)
  }

  /** One JSON object per span, in completion order. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = done.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Engine-side record of every job, stage and task, kept in memory.
  * The benchmark reads it between units of work to attribute jobs,
  * tasks, busy time and bytes to a time window. Times are epoch
  * milliseconds, the resolution Spark stamps its events with. */
final class EngineListener extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long)
  final case class Stage(id: Int, tasks: Int)
  final case class Task(stage: Int, busyMs: Long, resultBytes: Long,
                        shuffleWriteBytes: Long, spillBytes: Long, gcMs: Long)

  private val jobs = ArrayBuffer.empty[Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val tasks = ArrayBuffer.empty[Task]
  private val jobOfStage = scala.collection.mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, Long.MaxValue)
    e.stageIds.foreach(jobOfStage(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += Stage(e.stageInfo.stageId, e.stageInfo.numTasks)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(e.stageId, e.taskInfo.duration, m.resultSize,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.jvmGCTime)
  }

  /** Waits until every event posted so far has reached this listener. */
  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Jobs started in [from, to], in start order. */
  def jobsIn(from: Long, to: Long): Seq[Job] = synchronized {
    jobs.filter(j => j.start >= from && j.start <= to).sortBy(_.start).toSeq
  }

  /** Tasks of the given jobs. */
  def tasksOf(js: Seq[Job]): Seq[Task] = synchronized {
    val ids = js.map(_.id).toSet
    tasks.filter(t => jobOfStage.get(t.stage).exists(ids)).toSeq
  }

  /** Engine totals of the window [from, to]; `cores` is the session's
    * task-slot count. */
  def window(from: Long, to: Long, cores: Int): EngineWindow = synchronized {
    val js = jobsIn(from, to)
    val ts = tasksOf(js)
    val ids = js.map(_.id).toSet
    val ss = stages.filter(s => jobOfStage.get(s.id).exists(ids))
    val wallMs = math.max(1L, to - from)
    // union of job intervals, clipped to the window
    var covered = 0L
    var reach = from
    js.foreach { j =>
      val s = math.max(j.start, reach)
      val e = math.min(if (j.end == Long.MaxValue) to else j.end, to)
      if (e > s) { covered += e - s; reach = e }
    }
    val busyMs = ts.map(_.busyMs).sum
    EngineWindow(
      jobs = js.size, stages = ss.size, tasks = ts.size,
      singleTaskStages = ss.count(_.tasks == 1),
      taskBusyS = busyMs / 1e3,
      coreUtil = busyMs.toDouble / (wallMs.toDouble * cores),
      driverGapS = (wallMs - covered) / 1e3,
      shuffleWriteMb = ts.map(_.shuffleWriteBytes).sum / 1e6,
      spillMb = ts.map(_.spillBytes).sum / 1e6,
      resultMb = ts.map(_.resultBytes).sum / 1e6,
      gcS = ts.map(_.gcMs).sum / 1e3)
  }
}

final case class EngineWindow(jobs: Int, stages: Int, tasks: Int, singleTaskStages: Int,
                              taskBusyS: Double, coreUtil: Double, driverGapS: Double,
                              shuffleWriteMb: Double, spillMb: Double, resultMb: Double,
                              gcS: Double) {
  def movedMb: Double = shuffleWriteMb + resultMb

  def metrics: Seq[(String, Double, String)] = Seq(
    ("spark.jobs", jobs.toDouble, "count"),
    ("spark.stages", stages.toDouble, "count"),
    ("spark.tasks", tasks.toDouble, "count"),
    ("spark.single_task_stages", singleTaskStages.toDouble, "count"),
    ("spark.task_busy_s", taskBusyS, "s"),
    ("spark.core_util", coreUtil, "ratio"),
    ("spark.driver_gap_s", driverGapS, "s"),
    ("spark.shuffle_write_mb", shuffleWriteMb, "MB"),
    ("spark.spill_mb", spillMb, "MB"),
    ("spark.result_mb", resultMb, "MB"),
    ("spark.gc_s", gcS, "s"))
}
