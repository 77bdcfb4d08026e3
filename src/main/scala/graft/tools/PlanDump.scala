package graft.tools

import java.io.PrintWriter

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dumps `explain("formatted")` of the internal dataflows behind the
  * media near-dup, substring-dedup and host-curation keys into
  * `<outDir>/<name>_<tag>.txt` and prints each plan's Exchange count
  * (ReusedExchange excluded), so plan-shape claims are checkable
  * without running Spark: run once at the commit before a change with
  * tag `before` and once after it with tag `after`. Dumps:
  *  - the three media verdict plans over CACHED prints, exactly as the
  *    `q_dedup_{image,audio,video}` keys compose them (an uncached dump
  *    replicates the decode subtree per reference);
  *  - the three media admission plans against a freshly built index,
  *    as the `q_dedup_incr_*` keys run them;
  *  - `q_dedup_substring`'s span chain and the `q_curate_hosts` key's
  *    frame.
  * Usage: `runMain graft.tools.PlanDump <sfDir> <outDir> <tag>`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <tag>")
    val Array(sfDir, outDir, tag) = args.take(3)
    graft.Session.run() { spark =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      new java.io.File(outDir).mkdirs()

      def dump(name: String, df: DataFrame): Unit = {
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new PrintWriter(s"$outDir/${name}_$tag.txt", "UTF-8")
        try w.println(plan) finally w.close()
        println(s"[plandump] $name ($tag): ${Plans.exchangeCount(plan)} Exchange lines")
      }

      import graft.operators.{AudioDedup, Dedup, ImageDedup, MediaDedup, VideoDedup}
      val docs = graft.Tables.documents(spark, sfDir)
      val modalities: Seq[(String, MediaDedup, DataFrame => DataFrame,
          DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
        ("image", ImageDedup, ImageDedup.withPlantedTwins, ImageDedup.withPlantedImages,
          ImageDedup.plantedRecrawlBatch),
        ("audio", AudioDedup, AudioDedup.withPlantedTwins, AudioDedup.withPlantedClips,
          AudioDedup.plantedRecrawlBatch),
        ("video", VideoDedup, VideoDedup.withPlantedTwins, VideoDedup.withPlantedStreams,
          VideoDedup.plantedRecrawlBatch))
      modalities.foreach { case (kind, m, twins, stored, recrawl) =>
        val corpus = twins(docs)
        val prints = m.families(m.prints(corpus))
        graft.Materialize.withCached(prints) {
          prints.count()
          dump(s"q_dedup_${kind}_verdict", m.dedupFromFamilies(corpus.select(col("doc_id")), prints))
        }
        graft.Materialize.withTempDir(s"plandump_$kind") { dir =>
          m.buildIndex(stored(docs), dir)
          dump(s"q_dedup_incr_${kind}_admission", m.admission(recrawl(docs), dir).toDF())
        }
      }

      // q_dedup_substring's span chain
      dump("q_dedup_substring_spans", Dedup.duplicatedSpans(docs, 8, 2))

      // the host-curation key's own frame
      val hosts = "q_curate_hosts"
      dump(hosts, graft.SparkEntry.queries(hosts)(spark, sfDir))

    }
  }
}
