package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Deterministic distributed generator for scale-testing fixtures
  * beyond the driver-provided sf0.1: reproduces the TESTDATA.md
  * schemas and marginal distributions (measured from
  * /root/testdata/sf0.1 — categorical values, fan-outs, value ranges,
  * dup structure, label-clustered unit embeddings) at an arbitrary
  * multiple, so `graft.Bench` can measure sf0.1→sf1 scaling ratios
  * instead of arguing them.
  *
  * Every row is generated from a PRNG seeded by its own id, so output
  * is identical regardless of partitioning/parallelism; generation is
  * `spark.range` → typed map — no driver-side loops, no collected
  * state — i.e. the generator itself has the 100 TB shape.
  *
  * Usage: `DataGen <outDir> <multiplier>` — multiplier 1 ≈ sf0.1 row
  * counts (so 10 ⇒ sf1). region/nation are copied verbatim from the
  * reference dir (fixed dimension tables).
  */
object DataGen {

  private def rng(id: Long, tag: Long) =
    new scala.util.Random(id * 0x9E3779B97F4A7C15L + tag * 0x2545F4914F6CDD1DL + 42L)

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Statuses = Array("F", "O", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val PAdjs = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val PNouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val RetFlags = Array("R", "A", "N")
  private val LineStatuses = Array("F", "O")
  private val Langs = Array("en", "en", "en", "en", "zh", "es", "fr", "de") // ~40% en
  private val Vocab = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")

  private val DayMicros = 86400000000L
  private val Epoch1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime / 1000 * 1000000L
  private val Epoch2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000 * 1000000L

  private def r2(v: Double): Double = math.round(v * 100.0) / 100.0

  /** Document text as a pure function of its seed id, so a near-dup
    * doc can regenerate its base's words without any join. */
  private def baseWords(seedId: Long): Array[String] = {
    val r = rng(seedId, 7L)
    Array.fill(10 + r.nextInt(96))(Vocab(r.nextInt(Vocab.length)))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DataGen <outDir> <multiplier> [refDir]")
    val outDir = args(0)
    val m = args(1).toDouble
    val refDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    graft.Session.run() { spark =>
      import spark.implicits._

      def n(base: Long): Long = math.max(1L, (base * m).toLong)
      val nCust = n(15000); val nSupp = n(1000); val nPart = n(20000)
      val nOrders = n(150000); val nEvents = n(100000)
      val nDocs = n(5000); val nEmb = n(2000); val nUsers = n(1500)

      def write(df: DataFrame, name: String, parts: Int): Unit = {
        df.repartition(parts).write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/$name.parquet")
        println(s"[datagen] wrote $name")
      }

      // fixed dimension tables: copied verbatim (values must match)
      write(spark.read.parquet(s"$refDir/region.parquet"), "region", 1)
      write(spark.read.parquet(s"$refDir/nation.parquet"), "nation", 1)

      write(spark.range(nCust).map { id =>
        val r = rng(id, 1L)
        (id, f"Customer#$id%09d", r.nextInt(25),
          r2(-1000.0 + r.nextDouble() * 11000.0), Segments(r.nextInt(5)))
      }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
        "customer", 4)

      write(spark.range(nSupp).map { id =>
        val r = rng(id, 2L)
        (id, f"Supplier#$id%09d", r.nextInt(25),
          r2(-1000.0 + r.nextDouble() * 11000.0))
      }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier", 2)

      write(spark.range(nPart).map { id =>
        val r = rng(id, 3L)
        (id, PAdjs(r.nextInt(8)) + " " + PNouns(r.nextInt(8)),
          "Brand#" + (1 + r.nextInt(25)), PTypes(r.nextInt(6)),
          1 + r.nextInt(50), r2(900.0 + r.nextDouble() * 100.0))
      }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
        "part", 4)

      // orders: day-granular dates over 1995-01-01..2001-08-01 (~2404 d)
      write(spark.range(nOrders).map { id =>
        val r = rng(id, 4L)
        val dateUs = Epoch1995 + r.nextInt(2405).toLong * DayMicros
        (id, math.abs(r.nextLong()) % nCust, Statuses(r.nextInt(3)),
          r2(1000.0 + r.nextDouble() * 499000.0),
          new Timestamp(dateUs / 1000L), Priorities(r.nextInt(5)))
      }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"), "orders", 8)

      // lineitem: 1..7 lines per order (two-dice fan-out, mean 4, the
      // measured sf0.1 shape); shipdate = orderdate + 1..120 days
      write(spark.range(nOrders).flatMap { oid =>
        val ro = rng(oid, 4L) // same stream as orders → same orderdate
        val dateUs = Epoch1995 + ro.nextInt(2405).toLong * DayMicros
        val r = rng(oid, 5L)
        val nLines = 2 + r.nextInt(4) + r.nextInt(4) - 1
        (1 to nLines).map { ln =>
          (oid, math.abs(r.nextLong()) % nPart, math.abs(r.nextLong()) % nSupp,
            ln, (1 + r.nextInt(50)).toDouble,
            r2(900.0 + r.nextDouble() * 104100.0),
            math.round(r.nextDouble() * 10.0) / 100.0,
            math.round(r.nextDouble() * 8.0) / 100.0,
            RetFlags(r.nextInt(3)), LineStatuses(r.nextInt(2)),
            new Timestamp((dateUs + (1 + r.nextInt(120)).toLong * DayMicros) / 1000L))
        }
      }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate"), "lineitem", 16)

      // events: ts written as INT64 NANOS (the read path divides by
      // 1000 under nanosAsLong, matching the driver's TIMESTAMP(NANOS)
      // physical type); value ~ exponential(mean 50) clipped at 560
      write(spark.range(nEvents).map { id =>
        val r = rng(id, 6L)
        val tsUs = Epoch2024 + (r.nextDouble() * 30 * DayMicros).toLong
        val v = math.min(560.0, -50.0 * math.log(1.0 - r.nextDouble()))
        (id, tsUs * 1000L, math.abs(r.nextLong()) % nUsers,
          EventTypes(r.nextInt(5)), r2(v), s"""{"k": ${r.nextInt(100)}}""")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        "events", 8)

      // documents: ~5% near-dups (one token of an earlier doc's text
      // replaced by the out-of-vocab marker "dup") + ~0.2% exact dups —
      // the measured sf0.1 dup structure, held constant across scale so
      // dedup queries keep a realistic cluster size distribution
      write(spark.range(nDocs).map { id =>
        val r = rng(id, 8L)
        val roll = r.nextDouble()
        val words =
          if (id > 0 && roll < 0.002) baseWords(id - 1 - r.nextInt(math.min(id, 1000L).toInt))
          else if (id > 0 && roll < 0.05) {
            val w = baseWords(id - 1 - r.nextInt(math.min(id, 1000L).toInt))
            w(r.nextInt(w.length)) = "dup"
            w
          } else baseWords(id)
        val text = words.mkString(" ")
        (id, text, Langs(r.nextInt(Langs.length)), "src" + r.nextInt(20),
          text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents", 4)

      // embeddings: 10 angular clusters (seeded centroid per label +
      // gaussian noise, unit-normalized — the measured norm≈1 layout
      // that gives IVF/LSH contracts meaningful recall)
      val dim = 64
      val centroids = Array.tabulate(10) { lbl =>
        val r = rng(lbl.toLong, 9L)
        val c = Array.fill(dim)(r.nextGaussian())
        val nrm = math.sqrt(c.map(x => x * x).sum)
        c.map(x => x / nrm)
      }
      write(spark.range(nEmb).map { id =>
        val r = rng(id, 10L)
        val lbl = r.nextInt(10)
        val raw = centroids(lbl).map(x => x + r.nextGaussian() * 0.35)
        val nrm = math.sqrt(raw.map(x => x * x).sum)
        (id, raw.map(x => (x / nrm).toFloat), lbl)
      }.toDF("vec_id", "embedding", "label"), "embeddings", 4)

      println(s"[datagen] done: $outDir (multiplier $m)")
    }
  }
}
