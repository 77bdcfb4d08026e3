package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.HeavyHitters
import graft.operators.TextOps
import QuerySpec._

/** Sketch-family queries (SURVEY.md §2.4 "Spark built-ins that cover
  * the family of sketch functionality"): HyperLogLog++, Count-Min,
  * Bloom filter, and quantile sketches as first-class engine surface.
  *
  * Oracle design: approximate answers are engine-specific, so each
  * query emits (a) EXACT values DuckDB can reproduce and (b) boolean
  * bounded-error assertions on the sketch estimates (which must all
  * be TRUE — also reproducible). This turns "approximate" into a
  * deterministic, hash-comparable contract: the oracle checks both
  * the exact baseline and that the sketch obeyed its error bound.
  *
  * Scale notes: all four sketches are mergeable commutative monoids —
  * Spark computes them as map-side partials + a tree merge, so the
  * shuffle carries one small sketch per partition, never rows. That
  * is the same communication-compression idea as the reference's
  * SketchML gradient sketches (SketchGradientDescent.scala:220-281),
  * applied to the relational surface.
  */
object SketchQueries {

  val specs: Seq[QuerySpec] = Seq(
    // HyperLogLog++ distinct-count vs exact, 5% bound at rsd=2%
    QuerySpec("q_sketch_hll",
      Sql("SELECT count(DISTINCT l_partkey) AS n_exact, TRUE AS hll_ok FROM lineitem")) { (s, d) =>
      Tables.lineitem(s, d).agg(
        countDistinct(col("l_partkey")).as("n_exact"),
        approx_count_distinct(col("l_partkey"), 0.02).as("hll"))
        .select(col("n_exact"),
          (abs(col("hll") - col("n_exact")) / col("n_exact") < 0.05).as("hll_ok"))
    },

    // exact interpolated percentiles (same definition as DuckDB
    // quantile_cont) + approx_percentile bounded against them
    QuerySpec("q_sketch_quantiles",
      Sql("SELECT round(quantile_cont(l_extendedprice, 0.5),4) AS p50, " +
        "round(quantile_cont(l_extendedprice, 0.9),4) AS p90, " +
        "TRUE AS q50_ok, TRUE AS q90_ok FROM lineitem",
        Some("SELECT round(percentile(l_extendedprice, 0.5),4) AS p50, " +
          "round(percentile(l_extendedprice, 0.9),4) AS p90, " +
          "TRUE AS q50_ok, TRUE AS q90_ok FROM lineitem"))) { (s, d) =>
      Tables.lineitem(s, d).agg(
        percentile(col("l_extendedprice"), lit(0.5)).as("p50"),
        percentile(col("l_extendedprice"), lit(0.9)).as("p90"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("a50"),
        percentile_approx(col("l_extendedprice"), lit(0.9), lit(10000)).as("a90"))
        .select(round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"),
          (abs(col("a50") - col("p50")) / col("p50") < 0.01).as("q50_ok"),
          (abs(col("a90") - col("p90")) / col("p90") < 0.01).as("q90_ok"))
    },

    // Count-Min frequency estimates for three hot keys: CMS never
    // under-counts, and over-counts by at most eps·N w.h.p.
    QuerySpec("q_sketch_cms",
      Sql("SELECT l_suppkey AS suppkey, count(*) AS n_true, TRUE AS cms_ok " +
        "FROM lineitem WHERE l_suppkey IN " +
        "(SELECT DISTINCT l_suppkey FROM lineitem ORDER BY 1 LIMIT 3) " +
        "GROUP BY 1 ORDER BY 1")) { (s, d) =>
      import s.implicits._
      val li = Tables.lineitem(s, d).select(col("l_suppkey"))
      // probe the 3 smallest distinct suppkeys — present at every sf
      val keys = li.distinct().orderBy(col("l_suppkey")).limit(3)
        .collect().map(_.getLong(0)).toSeq
      val eps = 0.001
      val cms = li.stat.countMinSketch(col("l_suppkey"), eps = eps,
        confidence = 0.99, seed = 42)
      val total = cms.totalCount()
      val trueCounts = li.filter(col("l_suppkey").isin(keys: _*))
        .groupBy(col("l_suppkey")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      keys.map { k =>
        val est = cms.estimateCount(k)
        val t = trueCounts.getOrElse(k, 0L)
        (k, t, est >= t && est <= t + (eps * total).toLong)
      }.toDF("suppkey", "n_true", "cms_ok").orderBy(col("suppkey"))
    },

    // Bloom filter membership: zero false negatives on present keys;
    // false-positive rate on a disjoint probe range under 5× target fpp
    QuerySpec("q_sketch_bloom",
      Sql("SELECT count(DISTINCT l_orderkey) AS n_keys, TRUE AS no_false_neg, " +
        "TRUE AS fpr_ok FROM lineitem")) { (s, d) =>
      import s.implicits._
      val li = Tables.lineitem(s, d).select(col("l_orderkey"))
      val dk = li.distinct()
      val (nKeys, present) = graft.Materialize.withCached(dk)(
        (dk.count(), dk.limit(100).collect().map(_.getLong(0))))
      val bf = li.stat.bloomFilter(col("l_orderkey"), expectedNumItems = nKeys,
        fpp = 0.01)
      val noFalseNeg = present.forall(bf.mightContain)
      // probe keys guaranteed absent: orderkeys are ≥ 1, probe negatives
      val probes = (1L to 10000L).map(-_)
      val fpr = probes.count(bf.mightContain).toDouble / probes.size
      Seq((nKeys, noFalseNeg, fpr <= 0.05))
        .toDF("n_keys", "no_false_neg", "fpr_ok")
    },

    // HLL set-intersection estimate by inclusion-exclusion:
    // |A∩B| ≈ hll(A) + hll(B) − hll(A∪B). All three sketches build in
    // ONE pass (conditional inputs) as mergeable register partials —
    // at 100 TB the shuffle carries three ~kB register arrays, never
    // keys; the exact intersection here is only the contract
    // baseline. Error compounds across three estimates, so the bound
    // is 10% of the true intersection at rsd=1% (observed ≲4%).
    QuerySpec("q_sketch_intersect",
      Sql("WITH per AS (SELECT l_orderkey, " +
        "max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS a, " +
        "max(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS b " +
        "FROM lineitem WHERE l_returnflag IN ('R','A') GROUP BY 1) " +
        "SELECT CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b, " +
        "CAST(sum(a*b) AS BIGINT) AS n_inter, TRUE AS inter_ok FROM per"),
      Plan("Three HLL register sketches (A, B, A∪B) build in ONE " +
        "conditional pass as ObjectHashAggregate partials — the " +
        "exchange carries three ~kB register arrays regardless of " +
        "input size; inclusion-exclusion then estimates the " +
        "intersection without ever shuffling keys. The exact side " +
        "exists only as the contract baseline.")) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("R", "A"))
        .select(col("l_orderkey"), col("l_returnflag"))
      val est = li.agg(
        approx_count_distinct(
          when(col("l_returnflag") === "R", col("l_orderkey")), 0.01).as("hll_a"),
        approx_count_distinct(
          when(col("l_returnflag") === "A", col("l_orderkey")), 0.01).as("hll_b"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("hll_u"))
      val exact = li.groupBy(col("l_orderkey"))
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("a"),
          max(when(col("l_returnflag") === "A", 1).otherwise(0)).as("b"))
        .agg(sum(col("a")).cast("long").as("n_a"),
          sum(col("b")).cast("long").as("n_b"),
          sum(col("a") * col("b")).cast("long").as("n_inter"))
      exact.crossJoin(est)
        .select(col("n_a"), col("n_b"), col("n_inter"),
          (abs(col("hll_a") + col("hll_b") - col("hll_u") - col("n_inter"))
            < col("n_inter") * 0.1).as("inter_ok"))
    },

    // Misra-Gries heavy hitters over document terms: the bounded-
    // memory twin of q_top_terms' exact histogram. The sketch agg is
    // the 100 TB path (≤ 2k counters per partial, constant-size
    // exchange); the exact side here is only the contract baseline.
    // The fixture vocabulary (31 terms) is under the capacity (64),
    // so the summary is provably exact and the contract booleans are
    // deterministic; the lossy compaction path is spec-covered with
    // planted skew (HeavyHittersSpec).
    QuerySpec("q_sketch_heavy",
      Sql("WITH t AS (SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term " +
        "FROM documents), " +
        "e AS (SELECT term, count(*) AS n FROM t GROUP BY 1) " +
        "SELECT (SELECT term FROM e ORDER BY n DESC, term LIMIT 1) AS top1_term, " +
        "(SELECT CAST(n AS BIGINT) FROM e ORDER BY n DESC, term LIMIT 1) AS top1_n, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM e) AS n_terms, " +
        "TRUE AS top10_covered, TRUE AS bounds_ok",
        Some("WITH t AS (SELECT term FROM documents LATERAL VIEW explode(regexp_extract_all(text, '[a-z0-9]+', 0)) e AS term), " +
          "e AS (SELECT term, count(*) AS n FROM t GROUP BY 1) " +
          "SELECT (SELECT term FROM e ORDER BY n DESC, term LIMIT 1) AS top1_term, " +
          "(SELECT CAST(n AS BIGINT) FROM e ORDER BY n DESC, term LIMIT 1) AS top1_n, " +
          "(SELECT CAST(count(*) AS BIGINT) FROM e) AS n_terms, " +
          "TRUE AS top10_covered, TRUE AS bounds_ok")),
      Plan("The heavy_hitters aggregate runs as ObjectHashAggregate " +
        "partial+final: every partial buffer is ≤ 2k counters " +
        "regardless of input size, so the exchange ships " +
        "constant-size summaries — per-group approximate top-k at " +
        "100 TB where an exact (group, term) histogram would not " +
        "fit. The exact side of the plan exists only as the " +
        "contract baseline.")) { (s, d) =>
      val terms = Tables.documents(s, d)
        .select(explode(TextOps.regexTokens(col("text"))).as("term"))
      val cand = terms.agg(HeavyHitters.heavyHitters(col("term"), 64).as("hh"))
        .select(explode(col("hh")).as("c"))
        .select(col("c.term").as("term"), col("c.est").as("est"),
          col("c.err_bound").as("err"))
      val exact = terms.groupBy(col("term")).agg(count(lit(1)).as("n"))
      val top = exact.orderBy(col("n").desc, col("term")).limit(10)
      val covered = top.join(cand.select(col("term"), col("est")), Seq("term"), "left")
        .agg((count(col("est")) === count(lit(1))).as("top10_covered"))
      val boundsOk = cand.join(exact, "term")
        .agg(coalesce(min(col("est") <= col("n") &&
          col("n") <= col("est") + col("err")), lit(false)).as("bounds_ok"))
      val top1 = exact.orderBy(col("n").desc, col("term")).limit(1)
        .select(col("term").as("top1_term"), col("n").as("top1_n"))
      val nTerms = exact.agg(count(lit(1)).as("n_terms"))
      top1.crossJoin(nTerms).crossJoin(covered).crossJoin(boundsOk)
    }
  )
}
