package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built: every main and the
  * test harness come through here, so they share one CPU rule and one
  * set of session confs. */
object Session {

  /** Session width: `SPARK_GRAFT_CPUS`, else `max(4, nproc)`. The
    * Bench canaries gate at this same width. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.max(4, Runtime.getRuntime.availableProcessors()))

  /** `local[cores]` with one shuffle partition per core, session time
    * zone UTC (the oracle's reading of every timestamp), the UI off and
    * the log level at WARN. Returns the running session if one exists. */
  def local(cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` in a session and stops it afterwards only if this call
    * created it. A caller's running session (a test suite's, say) is
    * used as it is: `getOrCreate` would rewrite its runtime confs, such
    * as the shuffle partitions, for everything that runs after. */
  def run[A](cores: Int = cpus)(body: SparkSession => A): A =
    SparkSession.getDefaultSession.orElse(SparkSession.getActiveSession) match {
      case Some(caller) => body(caller)
      case None =>
        val spark = local(cores)
        try body(spark) finally spark.stop()
    }

  /** Drops the cache and broadcast state a unit of work leaked, so the
    * next one does not pay its memory and GC bill. `clearCache` covers
    * only SQL-level caches; RDD-level persists (connected components'
    * final label RDD, which stays cached until its caller consumes it)
    * are dropped explicitly. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
