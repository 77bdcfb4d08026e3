package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Named keys
  * restrict both to those keys, for fast local iteration on a few:
  * `runMain graft.Verify <sfDir> <outDir> [key...]`, then
  * `python3 tools/compare_oracle.py <sfDir> <outDir>`. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [key...]")
    val sfDir = args(0); val outDir = args(1); val keys = args.drop(2).toSet
    val unknown = keys -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    def want(key: String) = keys.isEmpty || keys(key)
    val queries = SparkEntry.queries.toSeq.filter { case (k, _) => want(k) }
    Session.run() { spark =>
      new java.io.File(outDir).mkdirs()
      val failed = scala.collection.mutable.ListBuffer[String]()
      queries.foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // Write an explicit failure record instead of nothing: a query
          // that throws must surface in the driver's compare as a LOUD
          // hash/schema mismatch, not silently vanish from the gate
          // (round 8 lost all 12 events queries to an un-analyzable
          // loader and the correctness artifact just had 85 keys).
          try {
            import spark.implicits._
            Seq((name, String.valueOf(e.getMessage).take(500)))
              .toDF("_verify_error_query", "_verify_error_message")
              .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          } catch { case _: Throwable => () }
        }
      }
      System.err.println(s"[verify] ${queries.size - failed.size}/" +
        s"${queries.size} ok" +
        (if (failed.nonEmpty) s"; FAILED: ${failed.mkString(", ")}" else ""))
      // JSON string escape: backslash, quote, and ALL control chars (<0x20)
      // — a tab or CR in builder-authored SQL would otherwise make the
      // driver's json.load fail and silently zero the round's correctness.
      def q(s: String): String = "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      val json = SparkEntry.oracleSql.iterator.filter { case (k, _) => want(k) }
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    }
  }
}
