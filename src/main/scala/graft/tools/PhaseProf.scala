package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Phase-level timing of one media near-dup key's dataflow — which
  * sub-plan of the engine (graft.operators.MediaDedup) owns the key's
  * seconds. Each phase runs twice; read the second number. Usage:
  * `runMain graft.tools.PhaseProf <sfDir> [image|audio|video]`. */
object PhaseProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.range(1000000).selectExpr("sum(id)").collect()
    import graft.operators.{AudioDedup, ImageDedup, VideoDedup}
    val kind = args.lift(1).getOrElse("image")
    val docs = graft.Tables.documents(spark, sfDir)
    val (m, plant) = kind match {
      case "audio" => (AudioDedup, AudioDedup.withPlantedTwins _)
      case "video" => (VideoDedup, VideoDedup.withPlantedTwins _)
      case _ => (ImageDedup, ImageDedup.withPlantedTwins _)
    }

    def time(label: String)(f: => Long): Unit =
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val n = f
        println(f"[phase] $label run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n)")
      }

    val corpus = graft.MediaFixtures.memo(spark, s"phaseprof_$kind", sfDir)(plant(docs))
    time("corpus.count")(corpus.count())
    val prints = m.prints(corpus).cache()
    time("prints+cache")(prints.count())
    val fams = m.families(prints).cache()
    time("family window+cache")(fams.count())
    time("nearDupPairs over reps")(
      m.nearDupPairs(fams.filter(col("doc_id") === col("rep"))).count())
    time("dedupFromFamilies full")(
      m.dedupFromFamilies(corpus.select(col("doc_id")), fams).filter(!col("keep")).count())
    fams.unpersist(blocking = true)
    prints.unpersist(blocking = true)
    spark.catalog.clearCache()

    // the end-to-end verdict as q_curate_media runs it
    (1 to 4).foreach { run =>
      val t0 = System.nanoTime()
      val res = m.dedup(corpus)
      println(f"[phase] dedup run$run: ${(System.nanoTime() - t0) / 1e9}%.3f s " +
        s"(${res.filter(!col("keep")).count()} dropped)")
      res.unpersist(blocking = false)
    }
    spark.stop()
  }
}
