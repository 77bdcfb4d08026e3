package graft.queries

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{GraftFunctions, VectorOps}
import graft.ml.{SketchLinearRegression, SketchLogisticRegression}
import graft.sketch.{IdentityCodec, SketchCodec}
import graft.sources.LibSvm
import QuerySpec._

/** Group A — reference-surface queries (SURVEY.md §2.5): the
  * reference's dataflow operators S1-S27 re-expressed over the star
  * schema. Each `q` has a DuckDB `oracle` unless the semantics are
  * iterative/lossy (SGD with sketch, roundtrip stats).
  *
  * Determinism conventions (SURVEY §7 risk 1):
  *  - money sums go through DECIMAL(18,2) (exact, order-independent)
  *    and are cast back to double — bitwise equal across engines;
  *  - float averages/losses are rounded to 6 decimals;
  *  - every multi-row result ends in an integer-keyed ORDER BY.
  */
object RefQueries {

  /** ML feature mapping used by the gradient/loss/predict queries:
    * y = l_extendedprice/100000, x = [l_quantity/50, l_discount, l_tax]. */
  private def feats(li: DataFrame): DataFrame = li.select(
    (col("l_extendedprice") / 100000).as("y"),
    (col("l_quantity") / 50).as("x1"),
    col("l_discount").as("x2"),
    col("l_tax").as("x3"))

  private val featsSql =
    "SELECT l_extendedprice/100000 AS y, l_quantity/50 AS x1, l_discount AS x2, l_tax AS x3 FROM lineitem"

  private def featsRdd(spark: SparkSession, sfDir: String) = {
    val f = feats(Tables.lineitem(spark, sfDir))
    // single-row-group parquet ⇒ 1 partition; spread the row
    // conversion and the per-iteration gradient passes across all
    // cores before the (cached) RDD is materialized (no-op when the
    // scan is already parallel — Tables.spreadIfNarrow)
    Tables.spreadIfNarrow(
        f.select(col("y"), array(col("x1"), col("x2"), col("x3")).as("xs")))
      .rdd.map(r => (r.getDouble(0), Vectors.dense(r.getSeq[Double](1).toArray)))
  }

  /** Fixed evaluation weights for q_loss / q_predict_eval. */
  private val FixedW = Seq(0.5, 1.0, 2.0)
  private val FixedB = 0.1

  private def r(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** LibSVM-shaped lines synthesized from lineitem (S1/S2 surface):
    * label = l_quantity; features `1:<qty/50> 2:<discount>
    * <2+linenumber>:<tax>`; every 10th line carries a `# comment`;
    * plus a blank line, a comment-only line, and a line whose only
    * feature index exceeds maxDim — the Test.scala:135-152 edge set. */
  private def libsvmLines(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    val body = li.select(concat(
      col("l_quantity").cast("string"),
      lit(" 1:"), (col("l_quantity") / 50).cast("string"),
      lit(" 2:"), col("l_discount").cast("string"),
      lit(" "), (col("l_linenumber") + 2).cast("string"),
      lit(":"), col("l_tax").cast("string"),
      when(pmod(col("l_orderkey"), lit(10)) === 0, lit(" # trailing comment"))
        .otherwise(lit(""))).as("line")).as[String]
    // The sf0.x lineitem parquet is a single row group, so without
    // this the whole parse would run as ONE task. At 100 TB the scan
    // arrives pre-split into thousands of file splits, where
    // spreadIfNarrow passes it through shuffle-free; locally it's an
    // 11 MB round-robin shuffle — noise next to the parse cost.
    // (Spread the parquet-derived body, not the union: the 3-line
    // local edge-set DS carries defaultParallelism empty partitions
    // that would mask a narrow body.)
    Tables.spreadIfNarrow(body)
      .union(Seq("", "# comment-only line", "9.9 9:1.0").toDS())
  }

  /** Unrolled full-batch GD as a DuckDB CTE chain — iteration t uses
    * η_t = step/√t and w ← w − η·avg((wᵀx+b−y)·x), matching the
    * kernel's update (SketchGradientDescent.scala:283-313) term for
    * term; round(4) absorbs summation-order ulps. */
  private def sgdOracleSql(iters: Int, step: Double): String = {
    val sb = new StringBuilder(
      s"WITH f AS ($featsSql), it0 AS (SELECT CAST(0.0 AS DOUBLE) w1, " +
        "CAST(0.0 AS DOUBLE) w2, CAST(0.0 AS DOUBLE) w3, CAST(0.0 AS DOUBLE) b)")
    for (t <- 1 to iters) {
      val eta = s"($step/sqrt($t.0))"
      val pred = "(b + w1*x1 + w2*x2 + w3*x3)"
      sb.append(s", it$t AS (SELECT w1 - $eta*avg(($pred - y)*x1) AS w1, " +
        s"w2 - $eta*avg(($pred - y)*x2) AS w2, " +
        s"w3 - $eta*avg(($pred - y)*x3) AS w3, " +
        s"b - $eta*avg($pred - y) AS b FROM f, it${t - 1} GROUP BY w1, w2, w3, b)")
    }
    sb.append(s" SELECT round(w1,4) AS w1, round(w2,4) AS w2, " +
      s"round(w3,4) AS w3, round(b,4) AS b FROM it$iters")
    sb.toString
  }

  private val lossExprSql =
    "0.5*(((0.1 + 0.5*x1 + 1.0*x2 + 2.0*x3) - y)*((0.1 + 0.5*x1 + 1.0*x2 + 2.0*x3) - y))"

  val specs: Seq[QuerySpec] = Seq(
    // S1-S4: scan + predicate filters (Test.scala:127-155)
    QuerySpec("q_scan_filter",
      Sql("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount " +
        "FROM lineitem WHERE l_quantity > 30 AND l_discount < 0.05 " +
        "ORDER BY l_orderkey, l_linenumber"),
      Plan("Both predicates reach the parquet reader (`PushedFilters: " +
        "GreaterThan(l_quantity,30.0), LessThan(l_discount,0.05)`) and " +
        "`ReadSchema` carries only the 5 projected columns — at 100 TB " +
        "row groups failing min/max stats are never read.")) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_quantity") > 30 && col("l_discount") < 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // S2: the libsvm parser end-to-end with maxDim=4 truncation
    QuerySpec("q_parse_libsvm",
      Sql("SELECT count(*) AS n_rows, round(sum(l_quantity),2) AS sum_label, " +
        "CAST(2*count(*) + sum(CASE WHEN l_linenumber <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_feats, " +
        "round(sum(l_quantity/50 + l_discount + CASE WHEN l_linenumber <= 2 THEN l_tax ELSE 0 END),6) AS sum_vals " +
        "FROM lineitem")) { (s, d) =>
      val parsed = LibSvm.parse(libsvmLines(s, d), maxDim = 4).toDF()
      parsed.agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("label")), 2).as("sum_label"),
        sum(size(col("indices"))).as("n_feats"),
        round(sum(aggregate(col("values"), lit(0.0), (a, v) => a + v)), 6)
          .as("sum_vals"))
    },

    // S5: global max-agg dimension inference (Test.scala:157-160)
    QuerySpec("q_dim_max",
      Sql("SELECT CAST(max(l_linenumber)+2 AS BIGINT) AS dim FROM lineitem")) { (s, d) =>
      import s.implicits._
      val dim = LibSvm.inferDim(LibSvm.parse(libsvmLines(s, d)))
      Seq(dim.toLong).toDF("dim")
    },

    // S6: broadcast a computed scalar into a per-row predicate
    QuerySpec("q_broadcast_scalar",
      Sql("SELECT count(*) AS n_above FROM lineitem " +
        "WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem)")) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val avgDf = li.agg(avg(col("l_quantity")).as("avg_qty"))
      li.crossJoin(broadcast(avgDf))
        .filter(col("l_quantity") > col("avg_qty"))
        .agg(count(lit(1)).as("n_above"))
    },

    // S8: deterministic keyed 75/25 split (replaces the unseeded
    // Splitter.trainTestSplit, Test.scala:39 — SURVEY §7 risk 2)
    QuerySpec("q_split_deterministic",
      Sql("SELECT CASE WHEN l_orderkey % 4 = 0 THEN 'test' ELSE 'train' END AS split, " +
        "count(*) AS n_rows, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY 1 ORDER BY 1")) { (s, d) =>
      Tables.lineitem(s, d)
        .withColumn("split",
          when(pmod(col("l_orderkey"), lit(4)) === 0, lit("test")).otherwise(lit("train")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy(col("split"))
    },

    // S10-S17: one full SGD step from w=0 (gradient → mean → update)
    QuerySpec("q_gradient_step",
      Sql(s"SELECT round(0.5*avg(y*x1),6) AS w1, round(0.5*avg(y*x2),6) AS w2, " +
        s"round(0.5*avg(y*x3),6) AS w3, round(0.5*avg(y),6) AS b FROM ($featsSql) f")) { (s, d) =>
      import s.implicits._
      val m = new SketchLinearRegression()
        .setIterations(1).setStepsize(0.5).fitRDD(featsRdd(s, d))
      Seq((r(m.weights(0), 6), r(m.weights(1), 6), r(m.weights(2), 6),
        r(m.intercept, 6))).toDF("w1", "w2", "w3", "b")
    },

    // S21/S22: mean + sum squared loss at fixed weights
    QuerySpec("q_loss",
      Sql(s"SELECT round(avg($lossExprSql),6) AS avg_loss, " +
        s"round(sum($lossExprSql),6) AS sum_loss, count(*) AS n FROM ($featsSql) f")) { (s, d) =>
      val withPred = feats(Tables.lineitem(s, d))
        .withColumn("pred", VectorOps.linearPredict(
          array(col("x1"), col("x2"), col("x3")), FixedW, FixedB))
        .withColumn("loss", lit(0.5) * ((col("pred") - col("y")) * (col("pred") - col("y"))))
      withPred.agg(round(avg(col("loss")), 6).as("avg_loss"),
        round(sum(col("loss")), 6).as("sum_loss"),
        count(lit(1)).as("n"))
    },

    // S23-S25: predict + absolute-error aggregation (MAE)
    QuerySpec("q_predict_eval",
      Sql(s"SELECT round(sum(abs((0.1 + 0.5*x1 + 1.0*x2 + 2.0*x3) - y)),6) AS abs_err_sum, " +
        s"round(avg(abs((0.1 + 0.5*x1 + 1.0*x2 + 2.0*x3) - y)),6) AS mae, " +
        s"count(*) AS n FROM ($featsSql) f")) { (s, d) =>
      val withPred = feats(Tables.lineitem(s, d))
        .withColumn("pred", VectorOps.linearPredict(
          array(col("x1"), col("x2"), col("x3")), FixedW, FixedB))
      withPred.agg(
        round(sum(abs(col("pred") - col("y"))), 6).as("abs_err_sum"),
        round(avg(abs(col("pred") - col("y"))), 6).as("mae"),
        count(lit(1)).as("n"))
    },

    // S18/S19: the full driver-loop training run, uncompressed path
    // (= FlinkGradientDescent parity). Oracled by an unrolled CTE
    // chain — full-batch GD is deterministic closed-form SQL.
    QuerySpec("q_sgd_train",
      Sql(sgdOracleSql(5, 0.5))) { (s, d) =>
      import s.implicits._
      val m = new SketchLinearRegression()
        .setIterations(5).setStepsize(0.5).setCompressionType("None")
        .fitRDD(featsRdd(s, d))
      Seq((r(m.weights(0), 4), r(m.weights(1), 4), r(m.weights(2), 4),
        r(m.intercept, 4))).toDF("w1", "w2", "w3", "b")
    },

    // Binary logistic regression on the SAME sketch-SGD machinery
    // (engine extension — the reference is squared-loss only).
    // Labels are a deterministic margin rule on x1 (quantity > 25);
    // the fitted separator must reach ≥90% training accuracy, checked
    // as a boolean contract with n oracle-recomputed.
    QuerySpec("q_logistic_train",
      Sql("SELECT count(*) AS n, TRUE AS acc_ok FROM lineitem"),
      Plan("Classification on the shared sketch-SGD loop: one persisted " +
        "pass + 10 treeAggregate jobs whose partial buffers cross " +
        "the exchange through the gradient codec (identical wire " +
        "shape to q_sgd_train — only the pointwise loss differs), " +
        "then ONE codegen'd accuracy aggregate (no UDF, no collect " +
        "of predictions).")) { (s, d) =>
      // center x1 so the separating boundary passes near the origin —
      // zero-init GD then converges in ~10 iterations instead of ~50
      // (the uncentered boundary needs the intercept to drift to
      // −w·0.5, the slowest direction under a shrinking schedule)
      val rdd = featsRdd(s, d).map { case (_, v) =>
        (if (v(0) > 0.5) 1.0 else 0.0,
          Vectors.dense(v(0) - 0.5, v(1), v(2))) }
      val m = new SketchLogisticRegression()
        .setIterations(10).setStepsize(6.0).setCompressionType("None")
        .fitRDD(rdd)
      val df = feats(Tables.lineitem(s, d))
        .select((col("x1") > 0.5).cast("double").as("label"),
          array(col("x1") - 0.5, col("x2"), col("x3")).as("features"))
      SketchLogisticRegression.binaryAccuracy(m, df)
        .select(col("n"), (col("acc_e6") >= 900000L).as("acc_ok"))
    },

    // Same run with SketchML compression on the aggregation tree
    QuerySpec("q_sgd_train_sketch",
      Lossy("SketchML compression on the aggregation tree is lossy by design " +
        "(SURVEY §7 risk 3): the fitted weights have no exact SQL twin")) { (s, d) =>
      import s.implicits._
      val m = new SketchLinearRegression()
        .setIterations(5).setStepsize(0.5).setCompressionType("Sketch")
        .fitRDD(featsRdd(s, d))
      Seq((r(m.weights(0), 2), r(m.weights(1), 2), r(m.weights(2), 2),
        r(m.intercept, 2))).toDF("w1", "w2", "w3", "b")
    },

    // S12-S15 in SQL: the gradient_sketch_sum TypedImperativeAggregate
    // (partial buffers cross the Exchange through the gradient codec),
    QuerySpec("q_sketch_agg_sql",
      Sql(s"SELECT round(sum(x1),4) AS g1, round(sum(x2),4) AS g2, " +
        s"round(sum(x3),4) AS g3, count(*) AS n FROM ($featsSql) f")) { (s, d) =>
      // exercised as SQL TEXT through the session FunctionRegistry —
      // the sketch aggregate is first-class SQL, not just Column API.
      // Lossless codec here so DuckDB can oracle it; the Sketch codec
      // path is property-tested in SketchGradientSumSpec.
      GraftFunctions.registerAll(s)
      feats(Tables.lineitem(s, d))
        .select(array(col("x1"), col("x2"), col("x3")).as("grad"))
        .createOrReplaceTempView("graft_gradients")
      s.sql(
        "SELECT round(element_at(g, 1), 4) AS g1, " +
          "round(element_at(g, 2), 4) AS g2, " +
          "round(element_at(g, 3), 4) AS g3, n " +
          "FROM (SELECT gradient_sketch_sum(grad, 'None') AS g, " +
          "count(1) AS n FROM graft_gradients)")
    },

    // §2.4: quantize→sketch→decode roundtrip stats on a deterministic
    // 512-dim gradient derived from lineitem
    QuerySpec("q_sketch_roundtrip",
      Lossy("the quantize→sketch→decode roundtrip is lossy by design " +
        "(SURVEY §7 risk 3): its error stats have no exact SQL twin")) { (s, d) =>
      import s.implicits._
      val rows = Tables.lineitem(s, d)
        .groupBy(pmod(col("l_orderkey"), lit(512)).as("k"))
        .agg(sum(col("l_discount") - 0.05).as("v"))
        .collect()
      val dense = new Array[Double](512)
      rows.foreach(r0 => dense(r0.getLong(0).toInt) = r0.getDouble(1))
      val codec = new SketchCodec()
      val bytes = codec.encode(dense)
      val decoded = codec.decode(bytes)
      val rawBytes = IdentityCodec.encode(dense).length
      val errs = dense.indices.map(i => math.abs(dense(i) - decoded(i)))
      Seq((512L, dense.count(math.abs(_) > 1e-10).toLong, rawBytes.toLong,
        bytes.length.toLong, r(rawBytes.toDouble / bytes.length, 2),
        r(errs.max, 6), r(errs.sum / errs.size, 6)))
        .toDF("dim", "nnz", "raw_bytes", "sketch_bytes", "ratio",
          "max_abs_err", "mean_abs_err")
    }
  )
}
