package graft

import java.nio.file.Files

import scala.language.implicitConversions

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** The one place that pins data: every cache, eager barrier and scratch
  * directory goes through here, and each is released on every path, a
  * throwing one included. Every cache is MEMORY_AND_DISK, for Datasets
  * and RDDs alike: an evicted block spills instead of recomputing. */
object Materialize {

  private val Level = StorageLevel.MEMORY_AND_DISK

  /** What holds blocks: a Dataset or an RDD (converted implicitly). */
  sealed trait Blocks {
    /** Already cached — by a caller's pin, an outer scope, or an equal
      * plan, since Spark keys a Dataset cache by its plan. */
    private[Materialize] def cached: Boolean
    private[Materialize] def persist(): Unit
    private[Materialize] def fill(): Unit
    private[Materialize] def unpersist(): Unit
    /** [[unpersist]] for a cache, else the RDD a barrier reads. */
    private[Materialize] def release(): Unit = unpersist()
  }

  object Blocks {
    implicit def ofDataset(d: Dataset[_]): Blocks = new Blocks {
      def cached: Boolean = d.storageLevel != StorageLevel.NONE
      def persist(): Unit = d.persist(Level)
      def fill(): Unit = d.count()
      def unpersist(): Unit = d.unpersist(blocking = false)
      override def release(): Unit =
        if (d.storageLevel != StorageLevel.NONE) unpersist()
        else rddLeaf(d.queryExecution.analyzed).foreach(_.unpersist(blocking = false))
    }
    implicit def ofRdd(r: RDD[_]): Blocks = new Blocks {
      def cached: Boolean = r.getStorageLevel != StorageLevel.NONE
      def persist(): Unit = r.persist(Level)
      def fill(): Unit = r.count()
      def unpersist(): Unit = r.unpersist(blocking = false)
    }
  }

  /** The RDD a frame reads when its plan is a single RDD scan: a
    * barrier's `LogicalRDD`, or a frame made from an RDD. */
  private def rddLeaf(plan: LogicalPlan): Option[RDD[_]] = plan.collectLeaves() match {
    case Seq(l: LogicalRDD) => Some(l.rdd)
    case Seq(e: ExternalRDD[_]) => Some(e.rdd)
    case _ => None
  }

  /** Runs `use` with `xs` cached and drops the caches it made when it
    * returns or throws; an input already cached (an outer scope's, a
    * pin's) is used as is and left cached. Runs no job: the first job
    * that reads a cache fills it, so a caller whose first reads run
    * concurrently fills it with an explicit `count()` inside `use`. */
  def withCached[A](xs: Blocks*)(use: => A): A = {
    val made = xs.filterNot(_.cached)
    made.foreach(_.persist())
    try use finally made.foreach(_.unpersist())
  }

  /** Caches `x` and fills it; the caller owns it and frees it with
    * [[release]]. A failed fill drops the cache. */
  def pin[H](x: H)(implicit blocks: H => Blocks): H = {
    val b = blocks(x)
    b.persist()
    try b.fill() catch { case e: Throwable => b.unpersist(); throw e }
    x
  }

  /** The one eager, plan-truncating materialization: runs `df` once
    * into executor block storage and returns a frame whose plan is a
    * single `LogicalRDD` over those blocks. Backed by a local
    * checkpoint, which drops the lineage a lost executor would be
    * recomputed from, so use it ONLY on bounded data — vocabulary-,
    * query-, batch- or row-sized — and [[pin]] anything corpus-wide.
    * The blocks live until [[release]] or until the frame is garbage;
    * a failed run frees them. */
  def barrier[T](df: Dataset[T]): Dataset[T] = {
    val cp = df.localCheckpoint(eager = false)
    val rdd = rddLeaf(cp.queryExecution.analyzed).get
    try Bridge.checkpointNow(df.sparkSession, rdd)
    catch { case e: Throwable => rdd.unpersist(blocking = false); throw e }
    cp
  }

  /** Frees a [[pin]] or a [[barrier]], or the RDD a frame made from one
    * reads (connected components' labels). */
  def release[H](x: H)(implicit blocks: H => Blocks): Unit = blocks(x).release()

  /** Runs `use` on a pin or barrier whose ownership passes on with the
    * result: `x` is released here only if `use` throws. */
  def handOff[H, A](x: H)(use: H => A)(implicit blocks: H => Blocks): A =
    try use(x) catch { case e: Throwable => blocks(x).release(); throw e }

  /** A chain of generations: `step` builds the next from the current
    * one and returns it pinned or barriered, and the current one is
    * then released. Stops after `rounds` steps, or once `done` holds;
    * a throwing step releases the live generation. Returns the last
    * one, owned by the caller. */
  def iterate[H](first: H, rounds: Int, done: => Boolean = false)(step: H => H)
                (implicit blocks: H => Blocks): H = {
    var cur = first
    try {
      for (_ <- 0 until rounds if !done) {
        val next = step(cur)
        blocks(cur).release()
        cur = next
      }
      cur
    } catch { case e: Throwable => blocks(cur).release(); throw e }
  }

  /** Runs `use` on a fresh temp directory and deletes the tree when it
    * returns or throws. */
  def withTempDir[A](prefix: String)(use: String => A): A = {
    val dir = Files.createTempDirectory(prefix).toString
    try use(dir) finally deleteTree(dir)
  }

  /** A fresh temp directory that a shutdown hook deletes. */
  def jvmTempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    sys.addShutdownHook(deleteTree(dir))
    dir
  }

  /** Deletes a directory tree or a file; a missing path is a no-op. */
  def deleteTree(path: String): Unit = FileUtil.fullyDelete(new java.io.File(path))
}
