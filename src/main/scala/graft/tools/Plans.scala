package graft.tools

import java.io.PrintWriter

import scala.util.matching.Regex

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry

/** Dumps `explain("formatted")` of every key whose spec carries a plan
  * note into PLANS.md, in spec order: first each key's own frame, then
  * the internal frames of keys whose public result is a verdict row.
  * Regenerate after plan-affecting changes:
  * `runMain graft.tools.Plans <sfDir>`. */
object Plans {

  /** Exchange operators in a physical-plan string; a ReusedExchange
    * re-reads an exchange already counted. */
  def exchangeCount(plan: String): Int =
    plan.linesIterator.count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))

  /** A plan with its run-specific tokens made stable: expression ids
    * (`#123`), `plan_id=` values and RDD ids are renumbered in order of
    * first appearance, scratch directories under `tmpDir` read
    * `<scratch>`, and lambda class names lose their JVM-assigned
    * suffix and identity hash. */
  def normalize(plan: String, tmpDir: String): String = {
    def renumber(text: String, pattern: String): String = {
      val ids = scala.collection.mutable.Map[String, Int]()
      pattern.r.replaceAllIn(text, m =>
        Regex.quoteReplacement(m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1)))
    }
    val scratch = Regex.quote(tmpDir.stripSuffix("/")) + "/[A-Za-z_]+-?[0-9]+"
    val stable = plan.replaceAll(scratch, "<scratch>")
      .replaceAll("\\$\\$Lambda\\$[0-9]+/0x[0-9a-f]+@[0-9a-f]+", "\\$\\$Lambda")
    Seq("(#)([0-9]+)", "(plan_id=)([0-9]+)", "(RDD\\[)([0-9]+)").foldLeft(stable)(renumber)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val tmpDir = System.getProperty("java.io.tmpdir")
    graft.Session.run(8) { spark =>
      val out = new StringBuilder
      def section(title: String, why: String, df: DataFrame): Unit = {
        val plan = normalize(df.queryExecution.explainString(FormattedMode), tmpDir)
        out ++= s"\n## $title\n\n$why\n\n```\n$plan```\n"
      }
      out ++= "# PLANS — physical plans of the headline queries\n\n"
      out ++= s"Generated by `graft.tools.Plans` against `$sfDir`.\n"
      out ++= "For each query: why this is the plan we want at 100 TB, then\n"
      out ++= "the `explain(\"formatted\")` output (AQE initial plan).\n"
      val specs = SparkEntry.specs
      for (q <- specs; why <- q.plan.rationale)
        section(q.key, why, q.build(spark, sfDir))

      out ++= "\n# Internal dataflow plans of contract keys\n\n"
      out ++= "Keys whose public result is a 1-row contract verdict\n"
      out ++= "(LocalTableScan above): the designated internal frame per\n"
      out ++= "key, so the real candidate-join/verify plan is pinned too.\n"
      for (q <- specs; in <- q.plan.internal)
        graft.Materialize.withTempDir("plans_scratch")(scratch =>
          section(s"${q.key} — internal", in.rationale, in.build(spark, sfDir, scratch)))

      val pw = new PrintWriter("PLANS.md", "UTF-8")
      try pw.write(out.toString) finally pw.close()
      println(s"[plans] wrote PLANS.md (${specs.count(_.plan.rationale.nonEmpty)} queries + " +
        s"${specs.count(_.plan.internal.nonEmpty)} internal)")
    }
  }
}
