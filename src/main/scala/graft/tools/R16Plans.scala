package graft.tools

import java.io.PrintWriter

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dumps `explain("formatted")` for the INTERNAL dataflows the
  * round-16 optimization touched (the media-dedup family resolution),
  * into `plans/r16/<name>_<tag>.txt` — run once at the pre-change
  * commit with tag `before` and once at HEAD with tag `after`, so the
  * exchange-count claims in OPTIMIZATION_r16.md are checkable without
  * running Spark. Usage: `runMain graft.tools.R16Plans <sfDir> <tag>`. */
object R16Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: R16Plans <sfDir> <tag>")
    val sfDir = args(0)
    val tag = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    new java.io.File("plans/r16").mkdirs()

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new PrintWriter(s"plans/r16/${name}_$tag.txt", "UTF-8")
      try w.println(plan) finally w.close()
      val exchanges = Plans.exchangeCount(plan)
      println(s"[r16plans] $name ($tag): $exchanges Exchange lines")
    }

    import graft.operators.{AudioDedup, ImageDedup, VideoDedup}
    val docs = graft.Tables.documents(spark, sfDir)

    // fingerprint tables CACHED exactly as the keys compose them —
    // an uncached dump replicates the decode subtree per reference
    // and drowns the verdict dataflow's own exchanges
    val imgCorpus = graft.MediaFixtures.memo(spark, "img_twins", sfDir)(
      ImageDedup.withPlantedTwins(docs))
    val thumbs = ImageDedup.thumbnails(imgCorpus).cache()
    thumbs.count()
    dump("q_dedup_image_verdict", ImageDedup.dedupFromThumbs(
      imgCorpus.select(col("doc_id")), thumbs))
    thumbs.unpersist(blocking = false)

    val audCorpus = graft.MediaFixtures.memo(spark, "aud_twins", sfDir)(
      AudioDedup.withPlantedTwins(docs))
    val prints = AudioDedup.fingerprints(audCorpus).cache()
    prints.count()
    dump("q_dedup_audio_verdict", AudioDedup.dedupFromPrints(
      audCorpus.select(col("doc_id")), prints))
    prints.unpersist(blocking = false)

    val vidCorpus = graft.MediaFixtures.memo(spark, "vid_twins", sfDir)(
      VideoDedup.withPlantedTwins(docs))
    val vprints = VideoDedup.fingerprints(vidCorpus).cache()
    vprints.count()
    dump("q_dedup_video_verdict", VideoDedup.dedupFromPrints(
      vidCorpus.select(col("doc_id")), vprints))
    vprints.unpersist(blocking = false)

    spark.stop()
  }
}
