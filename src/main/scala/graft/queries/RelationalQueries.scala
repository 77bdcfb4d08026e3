package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AsofJoin, RangeJoin, Sessions, SkewJoin}
import QuerySpec._

/** Group B (relational core + event-time) — SURVEY.md §2.5:
  * key-group-by, multi-way joins, window functions, sort/limit, set
  * ops, tumbling windows, sessionization. All stock Catalyst; scale
  * notes per query:
  *  - dimension tables (nation/region) are broadcast — no shuffle
  *    for the dim side at any scale;
  *  - fact-fact joins shuffle on the join key once and reuse it;
  *  - top-k uses rank-filter (partial top-k per partition under AQE)
  *    rather than global sort.
  */
object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(
    // hash join ⋈ broadcast joins + keyed group-by rollup
    QuerySpec("q_join_agg",
      Sql("SELECT r_name, n_name, count(*) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name, n_name ORDER BY r_name, n_name"),
      Plan("customer/nation/region are broadcast (3 BroadcastHashJoins, no " +
        "shuffle of the fact side); the rollup is partial+final " +
        "HashAggregate, so the only full shuffle carries pre-aggregated " +
        "(r_name, n_name) groups — constant-size regardless of fact rows.")) { (s, d) =>
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r0 = Tables.region(s, d)
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r0), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    },

    // multi-level rollup: (region, nation) → region subtotals →
    // grand total in ONE pass. Catalyst expands the rollup into a
    // single Expand + hash aggregate — at 100 TB this is one shuffle
    // of pre-aggregated groups, not three separate aggregations.
    // NULL grouping slots are coalesced to 'ALL' so ordering and the
    // driver's row hash are deterministic across engines.
    QuerySpec("q_rollup",
      Sql("SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation, " +
        "count(*) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY ROLLUP(r_name, n_name) ORDER BY region, nation"),
      Plan("Catalyst expands the ROLLUP into one Expand node (3 grouping " +
        "sets) feeding a partial+final HashAggregate — all three " +
        "subtotal levels ride a single shuffle of pre-aggregated " +
        "groups; the dimension tables broadcast exactly as in " +
        "q_join_agg.")) { (s, d) =>
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r0 = Tables.region(s, d)
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r0), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("n_orders"), col("revenue"))
        .orderBy(col("region"), col("nation"))
    },

    // pivot (long→wide conditional aggregation): order counts per
    // priority pivoted over order status. Values are ENUMERATED so
    // Spark skips the distinct-value discovery job — at 100 TB an
    // unenumerated pivot is a full extra scan before planning.
    QuerySpec("q_pivot",
      Sql("SELECT o_orderpriority AS priority, " +
        "count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open, " +
        "count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled, " +
        "count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending " +
        "FROM orders GROUP BY 1 ORDER BY 1"),
      Plan("Enumerated pivot values compile to two cascaded partial+final " +
        "aggregations over a SINGLE scan — no distinct-value discovery " +
        "job; both shuffles carry pre-aggregated (priority[, status]) " +
        "groups, constant-size regardless of fact rows.")) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("priority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .select(col("priority"),
          coalesce(col("O"), lit(0L)).as("n_open"),
          coalesce(col("F"), lit(0L)).as("n_filled"),
          coalesce(col("P"), lit(0L)).as("n_pending"))
        .orderBy(col("priority"))
    },

    // full cube: every grouping-set combination of (priority, status)
    // in ONE Expand + hash aggregate — like q_rollup but the complete
    // lattice. At 100 TB this shuffles pre-aggregated groups once,
    // vs. 4 separate scans for the 4 grouping sets.
    QuerySpec("q_cube",
      Sql("SELECT coalesce(o_orderpriority, 'ALL') AS priority, " +
        "coalesce(o_orderstatus, 'ALL') AS status, count(*) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus) " +
        "ORDER BY priority, status"),
      Plan("The full grouping-set lattice (4 sets) compiles to ONE Expand " +
        "node feeding a partial+final HashAggregate — the fact table " +
        "is scanned once and the only shuffle carries pre-aggregated " +
        "groups, vs. 4 separate scan+agg jobs.")) { (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n_orders"), col("revenue"))
        .orderBy(col("priority"), col("status"))
    },

    // window function: top-3 orders per market segment
    QuerySpec("q_window_topk",
      Sql("SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (" +
        "SELECT c_mktsegment, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY c_mktsegment " +
        "ORDER BY o_totalprice DESC, o_orderkey) AS rk " +
        "FROM orders JOIN customer ON o_custkey = c_custkey) t " +
        "WHERE rk <= 3 ORDER BY c_mktsegment, rk"),
      Plan("Spark 4 `WindowGroupLimit` prunes each partition to its top 3 " +
        "BEFORE the shuffle — the exchange carries ≤ 3·partitions rows " +
        "per segment, not the whole join output.")) { (s, d) =>
      val joined = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      joined.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("c_mktsegment"), col("rk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_mktsegment"), col("rk"))
    },

    // ordered analytic window: per-customer running revenue total.
    // One exchange on o_custkey + one sort; the running sum is a
    // streaming frame (ROWS UNBOUNDED PRECEDING) — no per-row
    // re-scan. Decimal accumulation so the cumulative sum is
    // order-stable bit-for-bit against the oracle.
    QuerySpec("q_running_total",
      Sql("SELECT o_custkey, o_orderkey, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_revenue " +
        "FROM orders WHERE o_custkey <= 100 ORDER BY o_custkey, o_orderkey"),
      Plan("The o_custkey <= 100 predicate is in PushedFilters, then one " +
        "hash Exchange on o_custkey + one in-partition sort; the " +
        "cumulative sum is a streaming ROWS frame evaluated in a " +
        "single forward pass — no per-row frame re-scan.")) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .filter(col("o_custkey") <= 100) // bounded output for the gate
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").as("running_revenue"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // exact percentiles per group — the exact twin of
    // q_sketch_quantiles (same pattern as exact top-k vs ANN):
    // sort-based exact percentile with linear interpolation. One
    // array-percentile buffer per group, unpacked to scalar columns
    // so the result is flat (the driver gate compares scalar cells).
    QuerySpec("q_percentiles",
      Sql("SELECT l_returnflag, " +
        "round(quantile_cont(l_extendedprice, 0.25), 6) AS p25, " +
        "round(quantile_cont(l_extendedprice, 0.50), 6) AS p50, " +
        "round(quantile_cont(l_extendedprice, 0.75), 6) AS p75, " +
        "round(quantile_cont(l_extendedprice, 0.95), 6) AS p95 " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
        Some("SELECT l_returnflag, round(percentile(l_extendedprice, 0.25), 6) AS p25, " +
          "round(percentile(l_extendedprice, 0.50), 6) AS p50, " +
          "round(percentile(l_extendedprice, 0.75), 6) AS p75, " +
          "round(percentile(l_extendedprice, 0.95), 6) AS p95 " +
          "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),
      Plan("Exact percentiles accumulate a per-group value-frequency " +
        "buffer (ObjectHashAggregate) partially per partition before " +
        "one group shuffle — the honest cost of EXACT quantiles is " +
        "that buffer being distinct-values-sized; the bounded-memory " +
        "twin at 100 TB is q_sketch_quantiles (approx_percentile), " +
        "same pattern as exact top-k vs ANN.")) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(percentile(col("l_extendedprice"),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.95))).as("qs"))
        .select(col("l_returnflag"),
          round(col("qs").getItem(0), 6).as("p25"),
          round(col("qs").getItem(1), 6).as("p50"),
          round(col("qs").getItem(2), 6).as("p75"),
          round(col("qs").getItem(3), 6).as("p95"))
        .orderBy(col("l_returnflag"))
    },

    // global sort + limit (top-k by value with deterministic tiebreak)
    QuerySpec("q_sort_limit",
      Sql("SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem " +
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20")) { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        .limit(20)
    },

    // set operations: INTERSECT / EXCEPT / UNION ALL in one result
    QuerySpec("q_set_ops",
      Sql("SELECT 'intersect' AS op, custkey FROM (" +
        "SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING' " +
        "INTERSECT SELECT o_custkey FROM orders WHERE o_totalprice > 150000) a " +
        "UNION ALL " +
        "SELECT 'except' AS op, custkey FROM (" +
        "SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING' " +
        "EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 150000) b " +
        "ORDER BY op, custkey")) { (s, d) =>
      val building = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      val bigSpenders = Tables.orders(s, d)
        .filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("custkey"))
      val i = building.intersect(bigSpenders).withColumn("op", lit("intersect"))
      val e = building.except(bigSpenders).withColumn("op", lit("except"))
      i.unionAll(e).select(col("op"), col("custkey"))
        .orderBy(col("op"), col("custkey"))
    },

    // semi/anti joins: segment cohorts by whether a customer has any
    // high-value order. Semi/anti carry NO payload columns from the
    // probe side — at 100 TB that's a hash join that shuffles only
    // the key column and never duplicates matched rows (vs. inner
    // join + distinct, which explodes then dedups).
    QuerySpec("q_semi_anti",
      Sql("SELECT 'with_highval' AS cohort, c_mktsegment, count(*) AS n FROM customer c " +
        "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_totalprice > 350000) GROUP BY c_mktsegment " +
        "UNION ALL " +
        "SELECT 'no_highval' AS cohort, c_mktsegment, count(*) AS n FROM customer c " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_totalprice > 350000) GROUP BY c_mktsegment " +
        "ORDER BY cohort, c_mktsegment"),
      Plan("Both cohorts run as BroadcastHashJoin LeftSemi/LeftAnti with " +
        "the high-value custkey side broadcast: the probe stream is " +
        "never duplicated on multi-matches and carries no payload " +
        "from the build side — vs. inner join + distinct, which " +
        "explodes then dedups.")) { (s, d) =>
      val highVal = Tables.orders(s, d)
        .filter(col("o_totalprice") > 350000)
        .select(col("o_custkey"))
      val c = Tables.customer(s, d)
      def cohort(joinType: String, name: String) =
        c.join(highVal, col("c_custkey") === col("o_custkey"), joinType)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"))
          .select(lit(name).as("cohort"), col("c_mktsegment"), col("n"))
      cohort("left_semi", "with_highval")
        .unionAll(cohort("left_anti", "no_highval"))
        .orderBy(col("cohort"), col("c_mktsegment"))
    },

    // exact + approximate distinct-count aggregates over lineitem
    QuerySpec("q_agg_global",
      Sql("SELECT count(*) AS n, count(DISTINCT l_partkey) AS n_parts, " +
        "min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, " +
        "round(avg(l_extendedprice),6) AS avg_price FROM lineitem")) { (s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n"),
        countDistinct(col("l_partkey")).as("n_parts"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"))
    },

    // salted skew-join: lineitem ⋈ supplier on (l_suppkey, salt) —
    // identical results to the plain join (the oracle proves it),
    // but each hot suppkey's rows spread over 8 reducers
    QuerySpec("q_join_skew",
      Sql("SELECT s_nationkey, count(*) AS n_items, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "GROUP BY s_nationkey ORDER BY s_nationkey"),
      Plan("The salted join runs as ShuffledHashJoin on (suppkey, _salt): " +
        "a hot supplier's rows land on 8 reducers instead of 1. " +
        "Identical results to the plain join (oracle-verified).")) { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_suppkey").as("suppkey"), col("l_orderkey"),
          col("l_extendedprice"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      SkewJoin.saltedJoin(li, sup, key = "suppkey",
          saltBy = "l_orderkey", salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
        .orderBy(col("s_nationkey"))
    },

    // point-in-time as-of join: each event matched to the latest
    // order of the same customer at or before the event time.
    // Output is the tie-insensitive as-of TIMESTAMP (orders sharing
    // the as-of date would make row-level columns nondeterministic).
    QuerySpec("q_asof_join",
      Sql("SELECT event_id, user_id, CAST(epoch(max(o_orderdate)) AS BIGINT) AS asof_s " +
        "FROM events e JOIN orders o ON e.user_id = o.o_custkey " +
        "AND o.o_orderdate <= e.ts " +
        "GROUP BY event_id, user_id ORDER BY event_id",
        // o_orderdate is TIMESTAMP_NTZ in the parquet; unix_* only take
        // TIMESTAMP, so cast (identity on the stored micros under UTC)
        Some("SELECT event_id, user_id, CAST(unix_seconds(CAST(max(o_orderdate) AS TIMESTAMP)) AS BIGINT) AS asof_s " +
          "FROM events e JOIN orders o ON e.user_id = o.o_custkey " +
          "AND CAST(o.o_orderdate AS TIMESTAMP) <= e.ts " +
          "GROUP BY event_id, user_id ORDER BY event_id")),
      Plan("Union + single window pass: ONE exchange on user_id and one " +
        "sort replace an inequality join that would materialize every " +
        "(event, earlier-order) pair — the difference between |L|+|R| " +
        "and |L|·|R| per key.")) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"))
      val ord = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"))
      AsofJoin.asofJoin(ev, ord,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate")
        .filter(col("asof_time").isNotNull) // inner-asof
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("asof_time")).as("asof_s"))
        .orderBy(col("event_id"))
    },

    // banded range join: for each event, how many OTHER users fired
    // an event within ±60 s — bucketized equi-join, not a nested loop
    QuerySpec("q_range_join",
      Sql("SELECT a.event_id, count(*) AS n_nearby FROM events a JOIN events b " +
        "ON abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000 " +
        "AND b.user_id <> a.user_id " +
        "GROUP BY a.event_id ORDER BY a.event_id",
        Some("SELECT a.event_id, count(*) AS n_nearby FROM events a JOIN events b " +
          "ON abs(unix_micros(a.ts) - unix_micros(b.ts)) <= 60000000 AND b.user_id <> a.user_id " +
          "GROUP BY a.event_id ORDER BY a.event_id")),
      Plan("The band predicate runs as a hash join on the time bucket " +
        "(right side exploded onto 3 candidate buckets) + an exact " +
        "|Δt| refine — no BroadcastNestedLoopJoin anywhere in the " +
        "plan, linear shuffle volume.")) { (s, d) =>
      val ev = Tables.events(s, d)
      val l = ev.select(col("event_id"), col("user_id"), col("ts"))
      val r = ev.select(col("event_id").as("r_event_id"),
        col("user_id").as("r_user_id"), col("ts").as("r_ts"))
      RangeJoin.bandJoin(l, r, "ts", "r_ts", bandSeconds = 60)
        .filter(col("r_user_id") =!= col("user_id"))
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_nearby"))
        .orderBy(col("event_id"))
    },

    // event-time tumbling window aggregation (batch twin of the
    // Structured Streaming query — same Sessions.tumblingAgg code)
    QuerySpec("q_event_windows",
      Sql("SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS bucket, " +
        "event_type, count(*) AS n_events, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2",
        Some("SELECT CAST(unix_seconds(date_trunc('hour', ts)) AS BIGINT) AS bucket, event_type, " +
          "count(*) AS n_events, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
          "FROM events GROUP BY 1, 2 ORDER BY 1, 2"))) { (s, d) =>
      Sessions.tumblingCounts(Tables.events(s, d), "1 hour")
        .orderBy(col("bucket"), col("event_type"))
    },

    // gap-based sessionization (30 min) via lag + running sum
    QuerySpec("q_event_sessions",
      Sql("WITH flagged AS (SELECT user_id, event_id, value, epoch_us(ts) AS us, " +
        "CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 " +
        "WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_s " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sess AS (SELECT user_id, value, us, " +
        "sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM flagged) " +
        "SELECT user_id, CAST(sid AS BIGINT) AS sid, count(*) AS n_events, " +
        "max(us) - min(us) AS dur_us, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
        "FROM sess GROUP BY user_id, sid ORDER BY user_id, sid",
        Some("WITH flagged AS (SELECT user_id, event_id, value, unix_micros(ts) AS us, " +
          "CASE WHEN unix_micros(ts) - lag(unix_micros(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 THEN 1 " +
          "WHEN lag(unix_micros(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS new_s " +
          "FROM events), " +
          "sess AS (SELECT user_id, value, us, sum(new_s) OVER " +
          "(PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM flagged) " +
          "SELECT user_id, CAST(sid AS BIGINT) AS sid, count(*) AS n_events, max(us) - min(us) AS dur_us, " +
          "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value " +
          "FROM sess GROUP BY user_id, sid ORDER BY user_id, sid"))) { (s, d) =>
      Sessions.sessionize(Tables.events(s, d), gapMinutes = 30)
        .orderBy(col("user_id"), col("sid"))
    },

    // lead/lag analytics: per-user inter-event gap statistics (the
    // diagnostic sessionization gap thresholds are tuned from)
    QuerySpec("q_event_gaps",
      Sql("WITH g AS (SELECT user_id, epoch_us(ts) - lag(epoch_us(ts)) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS gap_us FROM events) " +
        "SELECT user_id, count(*) AS n_events, count(gap_us) AS n_gaps, " +
        "max(gap_us) AS max_gap_us, " +
        "CAST(floor(avg(gap_us)) AS BIGINT) AS avg_gap_us " +
        "FROM g GROUP BY user_id ORDER BY user_id",
        Some("WITH g AS (SELECT user_id, unix_micros(ts) - lag(unix_micros(ts)) OVER " +
          "(PARTITION BY user_id ORDER BY ts, event_id) AS gap_us FROM events) " +
          "SELECT user_id, count(*) AS n_events, count(gap_us) AS n_gaps, max(gap_us) AS max_gap_us, " +
          "CAST(floor(avg(gap_us)) AS BIGINT) AS avg_gap_us FROM g GROUP BY user_id ORDER BY user_id")),
      Plan("One hash Exchange on user_id serves BOTH the lag window and " +
        "the final per-user aggregate (the aggregate reuses the " +
        "window's partitioning — no second exchange); the lag is a " +
        "single sorted forward pass per partition.")) { (s, d) =>
      Sessions.interEventGaps(Tables.events(s, d))
        .orderBy(col("user_id"))
    },

    // one-scan dataset profiling: per-column nulls / exact distinct /
    // numeric ranges over orders (the ingestion health report)
    QuerySpec("q_profile",
      Sql({
          def num(c: String) =
            s"SELECT '$c' AS col_name, count(*) AS n_rows, " +
              s"count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct, " +
              s"CAST(min(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS min_v, " +
              s"CAST(max(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS max_v FROM orders"
          def str(c: String) =
            s"SELECT '$c' AS col_name, count(*) AS n_rows, " +
              s"count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct, " +
              "CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v FROM orders"
          Seq(num("o_orderkey"), num("o_custkey"), str("o_orderstatus"),
            num("o_totalprice"), str("o_orderpriority"))
            .mkString("", " UNION ALL ", " ORDER BY col_name")
        }),
      Plan("All five columns profile in ONE parquet scan: the " +
        "count(distinct) set compiles to a single Expand (gid 0 " +
        "carries the plain aggregates, one grouping set per distinct " +
        "column) feeding partial+final HashAggregates — shuffle " +
        "volume is per-column partial states, input is read once.")) { (s, d) =>
      graft.operators.Profiling.profile(Tables.orders(s, d),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"))
        .orderBy(col("col_name"))
    },

    // RANGE-frame rolling window: per-event trailing-hour count/sum
    // for the same user — time-offset frame bounds (vs. the ROWS
    // frame of q_running_total)
    QuerySpec("q_rolling_range",
      Sql("SELECT user_id, event_id, epoch_us(ts) AS us, " +
        "count(*) OVER w AS n_trailing, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) " +
        "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) " +
        "ORDER BY user_id, event_id",
        Some("SELECT user_id, event_id, unix_micros(ts) AS us, " +
          "count(*) OVER (PARTITION BY user_id ORDER BY unix_micros(ts) " +
          "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_trailing, " +
          "CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY unix_micros(ts) " +
          "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_trailing " +
          "FROM events ORDER BY user_id, event_id")),
      Plan("The RANGE frame evaluates with a sliding lower bound in one " +
        "sorted forward pass per user partition — one hash Exchange " +
        "on user_id + one Sort, same shape as any per-key analytic; " +
        "the time-offset bound never re-scans the frame per row.")) { (s, d) =>
      Sessions.rollingCounts(Tables.events(s, d), windowMinutes = 60)
        .orderBy(col("user_id"), col("event_id"))
    },

    // full outer join + conditional distinct aggregation: per-segment
    // customer/order coverage incl. order-less customers (the side
    // only an outer join keeps). Both sides shuffle once on the key —
    // outer joins can't broadcast-prune, so this IS the 100 TB plan
    QuerySpec("q_outer_join",
      Sql("SELECT coalesce(c_mktsegment, 'NONE') AS segment, " +
        "count(DISTINCT c_custkey) AS n_customers, " +
        "count(DISTINCT CASE WHEN o_orderkey IS NOT NULL THEN c_custkey END) AS n_with_orders, " +
        "count(DISTINCT c_custkey) - " +
        "count(DISTINCT CASE WHEN o_orderkey IS NOT NULL THEN c_custkey END) AS n_without_orders, " +
        "count(o_orderkey) AS n_orders " +
        "FROM customer FULL OUTER JOIN " +
        "(SELECT * FROM orders WHERE o_totalprice > 300000) o " +
        "ON c_custkey = o_custkey GROUP BY 1 ORDER BY 1"),
      Plan("FULL OUTER joins cannot broadcast-prune (both sides must " +
        "preserve unmatched rows), so the plan is ONE hash exchange " +
        "per side on the join key into a single SortMergeJoin/" +
        "ShuffledHashJoin — exactly the shape this query would keep " +
        "at 100 TB; the conditional distinct aggregation rides the " +
        "same keyed partitioning.")) { (s, d) =>
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      // restrict to big orders so order-less customers genuinely
      // exist and the outer side's row-preservation is exercised
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 300000.0)
        .select(col("o_custkey"), col("o_orderkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .groupBy(coalesce(col("c_mktsegment"), lit("NONE")).as("segment"))
        .agg(countDistinct(col("c_custkey")).as("n_customers"),
          countDistinct(when(col("o_orderkey").isNotNull, col("c_custkey")))
            .as("n_with_orders"),
          count(col("o_orderkey")).as("n_orders"))
        .select(col("segment"), col("n_customers"), col("n_with_orders"),
          (col("n_customers") - col("n_with_orders")).as("n_without_orders"),
          col("n_orders"))
        .orderBy(col("segment"))
    },

    // ordered conversion funnel: users completing view → click →
    // purchase in order, each stage strictly after the user's
    // earliest completion of the previous one
    QuerySpec("q_funnel",
      Sql("WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), " +
        "s1 AS (SELECT user_id, min(us) AS t FROM e WHERE event_type = 'view' GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s1 ON e.user_id = s1.user_id " +
        "AND e.us > s1.t WHERE e.event_type = 'click' GROUP BY 1), " +
        "s3 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s2 ON e.user_id = s2.user_id " +
        "AND e.us > s2.t WHERE e.event_type = 'purchase' GROUP BY 1) " +
        "SELECT 1 AS stage, 'view' AS event_type, count(*) AS n_users FROM s1 " +
        "UNION ALL SELECT 2, 'click', count(*) FROM s2 " +
        "UNION ALL SELECT 3, 'purchase', count(*) FROM s3 ORDER BY stage",
        Some("WITH e AS (SELECT user_id, event_type, unix_micros(ts) AS us FROM events), " +
          "s1 AS (SELECT user_id, min(us) AS t FROM e WHERE event_type = 'view' GROUP BY 1), " +
          "s2 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s1 ON e.user_id = s1.user_id AND e.us > s1.t " +
          "WHERE e.event_type = 'click' GROUP BY 1), " +
          "s3 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s2 ON e.user_id = s2.user_id AND e.us > s2.t " +
          "WHERE e.event_type = 'purchase' GROUP BY 1) " +
          "SELECT 1 AS stage, 'view' AS event_type, count(*) AS n_users FROM s1 " +
          "UNION ALL SELECT 2, 'click', count(*) FROM s2 " +
          "UNION ALL SELECT 3, 'purchase', count(*) FROM s3 ORDER BY stage")),
      Plan("Each funnel stage is one filtered scan → user-keyed hash " +
        "aggregate joined to the previous stage's (user_id, t) " +
        "frontier — every exchange carries at most ONE row per user " +
        "(the frontier), never event-level cross products; " +
        "first-touch semantics via min() keep the frontier the " +
        "smallest state a funnel fundamentally needs.")) { (s, d) =>
      Sessions.funnel(Tables.events(s, d),
          stages = Seq("view", "click", "purchase"))
        .orderBy(col("stage"))
    },

    // forward-fill imputation: error events' values are treated as
    // sensor glitches and repaired from the same user's most recent
    // valid reading — one analytic window, values ride through
    // unchanged (no arithmetic) so parity is exact
    QuerySpec("q_fill_forward",
      Sql("SELECT event_id, user_id, epoch_us(ts) AS us, " +
        "last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value, " +
        "event_type = 'error' AS was_filled " +
        "FROM events ORDER BY user_id, us, event_id",
        Some("SELECT event_id, user_id, unix_micros(ts) AS us, " +
          "last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END) IGNORE NULLS OVER " +
          "(PARTITION BY user_id ORDER BY unix_micros(ts), event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value, " +
          "event_type = 'error' AS was_filled FROM events ORDER BY user_id, us, event_id")),
      Plan("Forward-fill repair is ONE analytic window: a single hash " +
        "exchange on user_id + in-partition sort, then " +
        "`last(_, ignoreNulls)` over a running ROWS frame evaluated " +
        "streaming — O(events) after the one shuffle any per-user " +
        "ordering needs; values ride through with no arithmetic.")) { (s, d) =>
      Sessions.fillForward(Tables.events(s, d),
          missing = col("event_type") === "error")
        .orderBy(col("user_id"), col("us"), col("event_id"))
    },

    // cohort retention (the classic activation analytics matrix):
    // users grouped by first-seen day, then for each later day the
    // count still active — two partial-agg exchanges keyed by
    // user_id/day plus a user-keyed hash join; integer day
    // arithmetic end to end, no per-user window sort
    QuerySpec("q_retention",
      Sql("WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events), " +
        "f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1) " +
        "SELECT cohort_day, day - cohort_day AS day_offset, count(*) AS n_users " +
        "FROM e JOIN f USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2",
        Some("WITH e AS (SELECT DISTINCT user_id, unix_micros(ts) div 86400000000 AS day FROM events), " +
          "f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1) " +
          "SELECT cohort_day, day - cohort_day AS day_offset, count(*) AS n_users " +
          "FROM e JOIN f USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2")),
      Plan("Cohort retention without a window: first-seen is a min " +
        "partial+final aggregate on user_id, activity days are a " +
        "distinct on (user, day), and the matrix is a user-keyed " +
        "hash join + one more partial agg on (cohort, offset) — " +
        "every exchange carries per-user or per-cell rows, never " +
        "the event log, and nothing sorts inside user partitions.")) { (s, d) =>
      val dayUs = 86400000000L
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          expr(s"unix_micros(ts) div $dayUs").as("day"))
      val cohort = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      ev.distinct()
        .join(cohort, "user_id")
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },

    // semi-structured extraction: pull a typed field out of the
    // events' JSON props column and aggregate it per event type —
    // the JSON parse happens once per row on the scan, and only the
    // extracted integer rides the exchange
    QuerySpec("q_json_extract",
      Sql("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
        "max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k, " +
        "count(*) FILTER (WHERE json_extract_string(props, '$.k') IS NULL) AS n_missing " +
        "FROM events GROUP BY 1 ORDER BY 1",
        Some("SELECT event_type, count(*) AS n, " +
          "CAST(sum(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
          "max(CAST(get_json_object(props, '$.k') AS BIGINT)) AS max_k, " +
          "count(*) FILTER (WHERE get_json_object(props, '$.k') IS NULL) AS n_missing " +
          "FROM events GROUP BY 1 ORDER BY 1")),
      Plan("Semi-structured extraction stays on the scan: " +
        "get_json_object parses each props string ONCE and only the " +
        "extracted long enters the partial+final aggregate — the " +
        "exchange carries 5 event-type groups, never JSON text. At " +
        "100 TB the upgrade path is from_json into a struct column " +
        "at ingest; the aggregate shape is already the right one.")) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).cast("long").as("n_missing"))
        .orderBy("event_type")
    },

    // equal-width histogram of order totals: 20 codegen'd arithmetic
    // buckets folded map-side — the profiling histogram is one scan
    // and a 20-group exchange no matter how large orders gets
    QuerySpec("q_histogram",
      Sql("SELECT least(greatest(CAST(floor(o_totalprice / 25000) AS BIGINT), 0), 19) AS bucket, " +
        "count(*) AS n FROM orders GROUP BY 1 ORDER BY 1")) { (s, d) =>
      Tables.orders(s, d)
        .select(least(greatest(floor(col("o_totalprice") / 25000).cast("long"),
          lit(0L)), lit(19L)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },

    // explicit GROUPING SETS (beyond rollup/cube): three chosen
    // aggregation levels + grouping_id in ONE Expand pass over a
    // single scan — the Dataset groupingSets API compiles to the
    // identical Expand plan the SQL text would, WITHOUT registering
    // catalog views (fixed-name temp views clobbered pre-existing
    // views and raced under concurrent query calls in one session)
    QuerySpec("q_grouping_sets",
      Sql("SELECT coalesce(c_mktsegment, 'ALL') AS segment, " +
        "coalesce(o_orderpriority, 'ALL') AS priority, " +
        "CAST(grouping(c_mktsegment) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid, " +
        "count(*) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ()) " +
        "ORDER BY gid, segment, priority"),
      Plan("Three chosen aggregation levels compile to ONE Expand node " +
        "feeding partial+final HashAggregate over a single scan — " +
        "the same single-pass shape as q_rollup/q_cube but with an " +
        "arbitrary (non-lattice) set list, via the Dataset " +
        "groupingSets API (identical Expand plan to the SQL text, " +
        "no catalog views touched).")) { (s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupingSets(
          Seq(Seq(col("c_mktsegment")), Seq(col("o_orderpriority")), Seq.empty),
          col("c_mktsegment"), col("o_orderpriority"))
        .agg((grouping(col("c_mktsegment")) * 2 + grouping(col("o_orderpriority")))
            .cast("long").as("gid"),
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("gid"), col("n_orders"), col("total"))
        .orderBy("gid", "segment", "priority")
    },

    // TPC-H Q3-shape shipping priority: segment-filtered 3-way join →
    // per-order revenue → deterministic top-10. Both date predicates
    // push to the parquet scans, the segment-filtered customer side
    // broadcasts, and revenue rides DECIMAL(18,2) so the ranking is
    // bit-stable cross-engine
    QuerySpec("q_ship_priority",
      Sql("SELECT l_orderkey, " +
        "round(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue, " +
        "epoch_us(o_orderdate) AS o_date_us, o_orderpriority " +
        "FROM customer, orders, lineitem " +
        "WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey " +
        "AND l_orderkey = o_orderkey " +
        "AND o_orderdate < TIMESTAMP '1998-06-01' AND l_shipdate > TIMESTAMP '1998-06-01' " +
        "GROUP BY l_orderkey, epoch_us(o_orderdate), o_orderpriority " +
        "ORDER BY revenue DESC, l_orderkey LIMIT 10",
        Some("SELECT l_orderkey, round(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue, " +
          "unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS o_date_us, o_orderpriority " +
          "FROM customer, orders, lineitem " +
          "WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey " +
          "AND o_orderdate < TIMESTAMP_NTZ '1998-06-01' AND l_shipdate > TIMESTAMP_NTZ '1998-06-01' " +
          "GROUP BY l_orderkey, unix_micros(CAST(o_orderdate AS TIMESTAMP)), o_orderpriority " +
          "ORDER BY revenue DESC, l_orderkey LIMIT 10")),
      Plan("The TPC-H Q3 composite: both date predicates live in " +
        "PushedFilters (row groups outside the cutoff are never " +
        "read), the segment-filtered customer side broadcasts, " +
        "revenue aggregates partial+final in HashAggregate, and the " +
        "top-10 is TakeOrderedAndProject — per-partition heaps, no " +
        "global sort of the aggregate output. Revenue rides " +
        "DECIMAL(18,2) so the ranking is bit-stable cross-engine.")) { (s, d) =>
      val cutoff = lit("1998-06-01").cast("timestamp")
      val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
      val li = Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,2)")).cast("double").as("rev"))
        .orderBy(desc("rev"), col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), round(col("rev"), 2).as("revenue"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_date_us"),
          col("o_orderpriority"))
    },

    // latest-state compaction: each user's event log collapsed to its
    // most recent event (max_by on (us, event_id) — one partial-agg
    // hash exchange, no per-user sort) plus lifetime counters
    QuerySpec("q_latest_state",
      Sql("WITH r AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type, value, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn " +
        "FROM events), " +
        "t AS (SELECT user_id, count(*) AS n_events, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS lifetime_value " +
        "FROM events GROUP BY user_id) " +
        "SELECT r.user_id, us AS last_us, event_id AS last_event_id, " +
        "event_type AS last_event_type, round(value, 6) AS last_value, " +
        "n_events, lifetime_value " +
        "FROM r JOIN t ON r.user_id = t.user_id WHERE rn = 1 ORDER BY r.user_id",
        Some("WITH r AS (SELECT user_id, event_id, unix_micros(ts) AS us, event_type, value, " +
          "row_number() OVER (PARTITION BY user_id ORDER BY unix_micros(ts) DESC, event_id DESC) AS rn FROM events), " +
          "t AS (SELECT user_id, count(*) AS n_events, " +
          "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS lifetime_value FROM events GROUP BY user_id) " +
          "SELECT r.user_id, us AS last_us, event_id AS last_event_id, event_type AS last_event_type, " +
          "round(value, 6) AS last_value, n_events, lifetime_value " +
          "FROM r JOIN t ON r.user_id = t.user_id WHERE rn = 1 ORDER BY r.user_id")),
      Plan("Event-log compaction as ONE max_by/count/sum aggregation on " +
        "user_id (partial+final SortAggregate — max_by's struct " +
        "buffer isn't hash-mutable): the map side combines to a " +
        "single champion struct per user BEFORE the exchange, so the " +
        "shuffle carries one compacted row per user per partition — " +
        "compare a row_number window, which shuffles EVERY event of " +
        "a 100 TB log and then sorts it inside user partitions.")) { (s, d) =>
      Sessions.latestState(Tables.events(s, d)).orderBy(col("user_id"))
    },

    // robust per-group outlier counts: the median/MAD rule over event
    // values — exact interpolated percentiles, integer verdicts
    QuerySpec("q_outliers",
      Sql("WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med " +
        "FROM events GROUP BY 1), " +
        "dev AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev " +
        "FROM events e JOIN med m USING (event_type)), " +
        "mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad " +
        "FROM dev GROUP BY 1) " +
        "SELECT d.event_type, count(*) AS n, " +
        "CAST(sum(CASE WHEN d.med - d.value > 3.0*m.mad THEN 1 ELSE 0 END) + " +
        "sum(CASE WHEN d.value - d.med > 3.0*m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, " +
        "CAST(sum(CASE WHEN d.med - d.value > 3.0*m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_low, " +
        "CAST(sum(CASE WHEN d.value - d.med > 3.0*m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_high " +
        "FROM dev d JOIN mad m USING (event_type) " +
        "GROUP BY 1 ORDER BY 1",
        Some("WITH med AS (SELECT event_type, percentile(value, 0.5) AS med FROM events GROUP BY 1), " +
          "dev AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev " +
          "FROM events e JOIN med m USING (event_type)), " +
          "mad AS (SELECT event_type, percentile(adev, 0.5) AS mad FROM dev GROUP BY 1) " +
          "SELECT d.event_type, count(*) AS n, " +
          "CAST(sum(CASE WHEN d.med - d.value > 3.0*m.mad THEN 1 ELSE 0 END) " +
          "+ sum(CASE WHEN d.value - d.med > 3.0*m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, " +
          "CAST(sum(CASE WHEN d.med - d.value > 3.0*m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_low, " +
          "CAST(sum(CASE WHEN d.value - d.med > 3.0*m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_high " +
          "FROM dev d JOIN mad m USING (event_type) GROUP BY 1 ORDER BY 1")),
      Plan("Three grouped aggregates (median, MAD, verdict counts), each " +
        "a hash partial+final on event_type; the tiny per-group " +
        "statistics come BACK as broadcast joins, so the event stream " +
        "never shuffles. A `percentile() OVER (PARTITION BY group)` " +
        "window would pin each group on one task — a skew bomb when " +
        "one group holds half of 100 TB.")) { (s, d) =>
      graft.operators.Outliers.robustOutliers(Tables.events(s, d),
          valueCol = "value", groupCol = "event_type", k = 3.0)
        .orderBy(col("event_type"))
    }
  )
}
