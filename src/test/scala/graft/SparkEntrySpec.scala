package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QuerySpec
import graft.queries.QuerySpec.{Lossy, Plan, Sql}

/** `SparkEntry`'s key catalog, derived from one `QuerySpec` per key.
  * `catalog_pin.tsv` holds, per key, the sha256 of its DuckDB oracle
  * (or `lossy`), of its Spark-dialect twin (or `-`), of its plan
  * rationale (or `-`) and of its internal frame's rationale (or `-`),
  * taken from the catalog before the specs existed: the derived
  * catalog must reproduce it byte for byte. Builds no session. */
class SparkEntrySpec extends AnyFunSuite {

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def pinRows(specs: Seq[QuerySpec]): Seq[String] =
    specs.sortBy(_.key).map { q =>
      val (duckdb, spark) = q.oracle match {
        case Sql(sql, twin) => (sha(sql), twin.map(sha).getOrElse("-"))
        case Lossy(_) => ("lossy", "-")
      }
      Seq(q.key, duckdb, spark, q.plan.rationale.map(sha).getOrElse("-"),
        q.plan.internal.map(i => sha(i.rationale)).getOrElse("-")).mkString("\t")
    }

  test("137 keys; every oracle and Spark-dialect twin names a key; four keys are rows-only") {
    val queries = SparkEntry.queries.keySet
    val oracled = SparkEntry.oracleSql.keySet
    assert(queries.size == 137)
    assert(oracled.subsetOf(queries), s"orphan oracles: ${oracled -- queries}")
    assert(SparkEntry.sparkSql.keySet.subsetOf(oracled),
      s"twins without an oracle: ${SparkEntry.sparkSql.keySet -- oracled}")
    assert(queries -- oracled == Set("q_dedup_minhash", "q_dedup_simhash",
      "q_sgd_train_sketch", "q_sketch_roundtrip"))
  }

  test("the four rows-only keys are the Lossy specs, each with a reason") {
    val lossy = SparkEntry.specs.collect { case QuerySpec(k, _, Lossy(why), _) => k -> why }
    assert(lossy.map(_._1).toSet == SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet)
    lossy.foreach { case (k, why) => assert(why.trim.nonEmpty, s"$k: empty reason") }
  }

  test("the derived catalog matches the pinned oracles, twins and plan notes") {
    val src = scala.io.Source.fromResource("catalog_pin.tsv", getClass.getClassLoader)
    val pinned = try src.getLines().drop(1).toList finally src.close()
    val rows = pinRows(SparkEntry.specs)
    assert(rows.size == pinned.size)
    val diff = rows.zip(pinned).filter { case (a, b) => a != b }
    assert(diff.isEmpty, diff.map { case (a, b) => s"\n  now:    $a\n  pinned: $b" }.mkString)
  }

  test("a catalog that declares a key twice fails") {
    val q = QuerySpec("q_twice", Sql("SELECT 1"), Plan.none)((s, _) => s.emptyDataFrame)
    val e = intercept[IllegalArgumentException](QuerySpec.catalog(Seq(q), Seq(q)))
    assert(e.getMessage.contains("q_twice"))
    assert(QuerySpec.catalog(Seq(q)).map(_.key) == Seq("q_twice"))
  }

  test("a lossy key without a reason fails") {
    intercept[IllegalArgumentException](Lossy(" "))
  }
}
