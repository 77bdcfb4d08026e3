package graft.tools

import java.io.PrintWriter

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dumps `explain("formatted")` for the dataflows the round-17
  * optimization touched, into `plans/r17/<name>_<tag>.txt` — run once
  * at the pre-change commit with tag `before` and once at HEAD with
  * tag `after` (the R16Plans protocol), so the plan-shape claims in
  * OPTIMIZATION_r17.md are checkable without running Spark. The
  * media verdict plans at the AFTER tag are intentionally short:
  * the round's change materializes the shared family/stream
  * intermediates eagerly (localCheckpoint), so the returned plan
  * starts from the checkpointed scan instead of re-planning the
  * window/aggregation subtree per consumer.
  * Usage: `runMain graft.tools.R17Plans <sfDir> <tag>`. */
object R17Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: R17Plans <sfDir> <tag>")
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
    new java.io.File("plans/r17").mkdirs()

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new PrintWriter(s"plans/r17/${name}_$tag.txt", "UTF-8")
      try w.println(plan) finally w.close()
      val exchanges = Plans.exchangeCount(plan)
      println(s"[r17plans] $name ($tag): $exchanges Exchange lines")
    }

    import graft.operators.{AudioDedup, Curation, Dedup, ImageDedup, VideoDedup}
    val docs = graft.Tables.documents(spark, sfDir)

    // fingerprint tables CACHED exactly as the keys compose them
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

    // q_dedup_substring's span chain (the AQE coalesce floor changes
    // runtime partitioning, not this static plan; the spread shows as
    // one extra round-robin Exchange at gate scale)
    dump("q_dedup_substring_spans", Dedup.duplicatedSpans(docs, 8, 2))

    // q_curate_hosts exactly as the key composes it
    val id = col("doc_id")
    val even = pmod(id, lit(2)) === 0
    val url = concat(lit("https://"), col("source"),
      when(even, lit("-a")).otherwise(lit("-b")), lit(".example.com"),
      when(even, lit("/art/0"))
        .otherwise(concat(lit("/art/"), pmod(id, lit(100000)).cast("string"))),
      when(even, lit("?id=0"))
        .otherwise(concat(lit("?id="), pmod(id, lit(7)).cast("string"))),
      when(pmod(id, lit(3)) === 0, lit("&utm_source=feed")).otherwise(lit("")))
    dump("q_curate_hosts", Curation.curateWithHostGate(docs,
      urls = docs.select(id, url.as("url")),
      evalDocs = docs.filter(pmod(id, lit(10)) === 0),
      contamThresholdE6 = 700000L))

    spark.stop()
  }
}
