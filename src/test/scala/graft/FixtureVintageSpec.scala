package graft

import org.apache.spark.sql.types._

/** Fixture-vintage pin: every table must load through `Tables.*` to
  * the canonical schema the 97-query surface was written against,
  * REGARDLESS of the physical parquet types the driver's generator
  * happened to write this round. Round 8 lost all 12 events queries
  * when `events.ts` flipped TIMESTAMP(NANOS) → TIMESTAMP(MICROS)-NTZ
  * between rounds; this spec turns that class of silent family drop
  * into a red test naming the exact drifted column.
  *
  * Also exercises the normalizer against synthetically re-written
  * vintages (date32 and LTZ-micros) so the dispatch is proven against
  * vintages that have not shipped yet.
  */
class FixtureVintageSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def typeOf(df: org.apache.spark.sql.DataFrame, c: String): DataType =
    df.schema(c).dataType

  test("every table loads and temporal columns land on their canonical type") {
    val s = spark
    // one load + count per table: an analysis error anywhere fails HERE,
    // in sbt test, not silently in the driver's correctness gate
    assert(Tables.region(s, sfDir).count() > 0)
    assert(Tables.nation(s, sfDir).count() > 0)
    assert(Tables.customer(s, sfDir).count() > 0)
    assert(Tables.supplier(s, sfDir).count() > 0)
    assert(Tables.part(s, sfDir).count() > 0)
    assert(Tables.orders(s, sfDir).count() > 0)
    assert(Tables.lineitem(s, sfDir).count() > 0)
    assert(Tables.events(s, sfDir).count() > 0)
    assert(Tables.documents(s, sfDir).count() > 0)
    assert(Tables.embeddings(s, sfDir).count() > 0)
    // canonical temporal types (what every query + oracle assumes)
    assert(typeOf(Tables.events(s, sfDir), "ts") == TimestampType)
    assert(typeOf(Tables.orders(s, sfDir), "o_orderdate") == TimestampNTZType)
    assert(typeOf(Tables.lineitem(s, sfDir), "l_shipdate") == TimestampNTZType)
    // columns the surface leans on hardest keep queryable types
    val li = Tables.lineitem(s, sfDir)
    assert(typeOf(li, "l_quantity") == DoubleType)
    assert(typeOf(li, "l_extendedprice") == DoubleType)
    val emb = Tables.embeddings(s, sfDir)
    assert(typeOf(emb, "embedding").isInstanceOf[ArrayType])
    val ev = Tables.events(s, sfDir)
    assert(typeOf(ev, "value") == DoubleType)
  }

  test("normalizer handles vintages that have not shipped yet (date32, LTZ, nanos-long)") {
    val s = spark
    import s.implicits._
    val dir = suiteDir("vintage")

    // vintage A: o_orderdate written as DATE
    Tables.orders(s, sfDir).limit(100)
      .withColumn("o_orderdate",
        org.apache.spark.sql.functions.col("o_orderdate").cast(DateType))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val a = Tables.orders(s, dir)
    assert(typeOf(a, "o_orderdate") == TimestampNTZType)
    assert(a.count() == 100)

    // vintage B: events.ts written as session-tz (LTZ) micros
    Tables.events(s, sfDir).limit(100)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val b = Tables.events(s, dir)
    assert(typeOf(b, "ts") == TimestampType)
    assert(b.count() == 100)

    // vintage C: events.ts written as raw int64 nanos
    Tables.events(s, sfDir).limit(100)
      .withColumn("ts",
        org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000L"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val c = Tables.events(s, dir)
    assert(typeOf(c, "ts") == TimestampType)
    // the ÷1000 nanos branch must reproduce the exact same instants
    val orig = Tables.events(s, sfDir).limit(100)
      .select("event_id", "ts").as[(Long, java.sql.Timestamp)].collect().toMap
    c.select("event_id", "ts").as[(Long, java.sql.Timestamp)].collect().foreach {
      case (id, ts) => assert(ts == orig(id), s"event $id instant drifted")
    }
  }
}
