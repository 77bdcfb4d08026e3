package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-based data selection for LLM training corpora — the two
  * classic "learned filter" shapes a pretraining pipeline runs after
  * the rule-based gates in [[TextOps]]:
  *
  *  1. [[lmScore]] — corpus-trained bigram language-model scoring
  *     (the CCNet / Wenzek et al. 2020 shape: train an n-gram LM,
  *     score every document by average negative log-likelihood,
  *     bucket into quality tiers). The "model" here is the corpus's
  *     own bigram table — self-scoring flags degenerate and
  *     out-of-distribution documents without any external artifact.
  *  2. [[dsirWeights]] — hashed n-gram importance weighting
  *     (the DSIR / Xie et al. 2023 shape: estimate target-domain vs
  *     raw-corpus unigram distributions in a fixed hashed feature
  *     space, weight each document by its log-likelihood ratio, and
  *     select the top-weighted documents for the training mix).
  *
  * Both follow the repo's exact-arithmetic contract: every log is
  * quantized to a floor(x·1e9) integer the moment it is computed, so
  * all downstream sums are integer (order-independent, bit-portable
  * across engines) and the DuckDB oracle reproduces results exactly.
  */
object ModelSelection {

  /** Per-bigram add-one-smoothed log-probability, quantized:
    * floor(ln((c2 + 1) / (c1 + V)) · 1e9). c2 = corpus count of the
    * bigram, c1 = corpus count of the context word as a bigram head,
    * V = follower vocabulary size. */
  private def logpE9(c2: Column, c1: Column, v: Column): Column =
    floor(log((c2 + lit(1.0)) / (c1 + v)) * 1e9).cast("long")

  /** Bigram-LM document scoring over `documents(doc_id, text)`.
    *
    * Output: (doc_id, n_bigrams, nll_e6) — nll_e6 is the average
    * negative log-likelihood in nats as a floor-divided ×1e6 integer
    * (lower = more in-distribution). Documents with fewer than two
    * tokens have no bigrams and are absent, as in
    * [[TextOps.repetitionStats]].
    *
    * Scale shape (100 TB): document bigrams are built with ONE
    * doc_id exchange (posexplode + lead window; a `transform(sequence(...))`
    * HOF over split would be a CodegenFallback that re-splits per
    * element, O(tokens²) per doc). The LM tables shuffle only
    * vocabulary-sized partial counts (map-side combine on (w0,w1)
    * then (w0)); V rides in as a broadcast 1-row scalar. The
    * score join keys the corpus bigrams by gram against the
    * vocabulary-sized model — sublinear in corpus size, so Spark
    * auto-broadcasts it at any realistic vocabulary; if a 100 TB
    * corpus's bigram table outgrows the broadcast threshold the same
    * plan degrades to a shuffled join on the gram key with AQE
    * handling hot-gram skew. No floats cross an aggregation: each
    * bigram's log-prob is quantized to e9 before the per-doc integer
    * sum, so the result is independent of partitioning and add
    * order. */
  /** Corpus bigram rows (doc_id, w0, w1) — one doc_id exchange
    * (posexplode + lead window), shared by [[lmScore]] and
    * [[lmScoreKn]]. */
  private def bigrams(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w0")))
      .withColumn("w1", lead(col("w0"), 1).over(w))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), col("w0"), col("w1"))
  }

  def lmScore(docs: DataFrame): DataFrame = {
    val bg = bigrams(docs)
    val c2 = bg.groupBy(col("w0"), col("w1")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w0")).agg(sum(col("c2")).as("c1"))
    val v = c2.agg(countDistinct(col("w1")).cast("long").as("v"))
    bg.join(c2, Seq("w0", "w1"))
      .join(c1, Seq("w0"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"), logpE9(col("c2"), col("c1"), col("v")).as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), (-sum(col("lp"))).as("nll_e9"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("nll_e9 div (n_bigrams * 1000)").as("nll_e6"))
      .orderBy(col("doc_id"))
  }

  /** Kneser–Ney-lite (interpolated absolute-discount) bigram scoring
    * — the standard CCNet-style smoothing alongside [[lmScore]]'s
    * add-one: every seen bigram's probability is
    *
    *   P(w1|w0) = ((c2 − D) + D·nf(w0)·(np(w1)/nbt)) / c1
    *
    * with D the absolute discount, nf(w0) the distinct-follower count
    * of the context (how much mass the discount freed), np(w1) the
    * distinct-PREDECESSOR count of the word, and nbt the total
    * distinct bigram types — so the backoff term is the Kneser–Ney
    * continuation probability ("how many contexts does w1 follow"),
    * not the raw unigram frequency; a word frequent only inside one
    * collocation scores low where add-one would overrate it. Scoring
    * the corpus against itself means c2 ≥ 1 for every scored bigram,
    * so the discounted head term stays positive and no unseen-bigram
    * branch is needed.
    *
    * Output and scale shape are [[lmScore]]'s exactly: (doc_id,
    * n_bigrams, nll_e6), one doc_id exchange for the bigram build,
    * vocabulary-sized model tables (the three stats joins key on
    * w0 / w1 against tables no bigger than the bigram-type table),
    * a broadcast 1-row nbt scalar, and every log e9-floor-quantized
    * before the per-doc INTEGER sum. The single float expression is
    * evaluated in one fixed parenthesization shared verbatim with
    * the DuckDB oracle and the Spark SQL twin. */
  def lmScoreKn(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    val bg = bigrams(docs)
    val c2 = bg.groupBy(col("w0"), col("w1")).agg(count(lit(1)).as("c2"))
    // c1 (context total) and nf (distinct followers) fall out of the
    // same w0-keyed aggregation over the bigram-TYPE table
    val c1 = c2.groupBy(col("w0"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("nf"))
    val np = c2.groupBy(col("w1")).agg(count(lit(1)).as("np"))
    val nbt = c2.agg(count(lit(1)).cast("long").as("nbt"))
    val d = lit(discount)
    val p = ((col("c2") - d) + d * col("nf") *
      (col("np").cast("double") / col("nbt"))) / col("c1")
    bg.join(c2, Seq("w0", "w1"))
      .join(c1, Seq("w0"))
      .join(np, Seq("w1"))
      .crossJoin(broadcast(nbt))
      .select(col("doc_id"), floor(log(p) * 1e9).cast("long").as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), (-sum(col("lp"))).as("nll_e9"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("nll_e9 div (n_bigrams * 1000)").as("nll_e6"))
      .orderBy(col("doc_id"))
  }

  /** Portable hashed feature bucket: the first 6 hex chars of
    * md5(token) parsed as an integer, mod `buckets`. Always
    * non-negative (24-bit value), identical in Spark and DuckDB. */
  private def bucketCol(tok: Column, buckets: Int): Column =
    conv(substring(md5(tok), 1, 6), 16, 10).cast("long") % buckets

  /** DSIR-style importance weights: score every document by the
    * log-likelihood ratio of the target-domain vs raw-corpus hashed
    * unigram distributions, and return the `k` top-weighted
    * documents (ties broken by doc_id).
    *
    * `isTarget` marks the rows that define the target domain (e.g.
    * `col("source") === "src0"` — "make the mix look like this
    * source"). Output: (doc_id, n_tokens, w_e9).
    *
    * Scale shape (100 TB): ONE token explode serves both the model
    * fit and the scoring — the bucket model is a conditional
    * aggregate (count + count-if-target) over the same exploded
    * rows, so the corpus is scanned once per side rather than once
    * for the target and once for the raw distribution. The model is
    * exactly `buckets` rows (a few KB at any corpus size) and is
    * explicitly broadcast, as are the two smoothing totals; the only
    * corpus-sized movement is the map-side-combined groupBy(doc_id)
    * of integer partial sums. Top-k is a TakeOrdered (per-partition
    * heap + driver merge of k rows), never a global sort. Per-token
    * log-ratios are e9-quantized integers from the 64-row model, so
    * the per-doc sum is exact and partition-order-independent. */
  def dsirWeights(docs: DataFrame, isTarget: Column,
                  buckets: Int = 64, k: Int = 20): DataFrame = {
    val toks = docs.select(col("doc_id"), isTarget.as("is_t"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("is_t"), bucketCol(col("tok"), buckets).as("b"))
    val m = toks.groupBy(col("b")).agg(
      count(lit(1)).as("nr"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("nt"))
    val tot = m.agg(sum(col("nr")).as("tr"), sum(col("nt")).as("tt"))
    val lr = m.crossJoin(broadcast(tot)).select(col("b"),
      floor((log((col("nt") + lit(1.0)) / (col("tt") + lit(buckets)))
        - log((col("nr") + lit(1.0)) / (col("tr") + lit(buckets)))) * 1e9)
        .cast("long").as("lr_e9"))
    toks.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr_e9")).as("w_e9"))
      .orderBy(col("w_e9").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-doc hashed-unigram FREQUENCY features in a fixed
    * `buckets`-dim space — the [[dsirWeights]] feature trick made
    * dense: one tokenize pass, one keyed aggregation with `buckets`
    * codegen'd conditional sums (no pivot shuffle, no UDF). Output:
    * (doc_id, n_tokens, features: array<double> of length
    * `buckets`). */
  def hashedFeatures(docs: DataFrame, buckets: Int = 64): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), bucketCol(col("tok"), buckets).as("b"))
    val aggs = (0 until buckets).map(i =>
      sum(when(col("b") === i, 1L).otherwise(0L)).as(s"c$i"))
    toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), aggs: _*)
      .select(col("doc_id"), col("n_tokens"),
        array((0 until buckets).map(i =>
          col(s"c$i").cast("double") / col("n_tokens")): _*).as("features"))
  }

  /** CCNet/fastText-style TRAINED quality classifier — the learned
    * linear rung between the rule gates ([[TextOps]]) and LM scoring
    * ([[lmScore]]): hashed-unigram frequencies +
    * [[graft.ml.SketchLogisticRegression]] (the repo's own sketch-SGD
    * trainer — full-batch GD, deterministic up to float-sum
    * association in the treeAggregate combine, i.e. the
    * `q_sgd_train` rounding rule). `labelCol` gives the {0,1}
    * training label
    * (1 = keep), computable from `docs`'s columns. Returns the
    * fitted model and the featurized frame (doc_id, label, features)
    * for scoring/gating.
    *
    * Scale shape: featurization is one tokenize pass + one keyed
    * aggregation; each training iteration exchanges ONE `buckets`-dim
    * gradient through the codec-buffered treeAggregate — the corpus
    * itself never moves after the cached featurize. At 100 TB the
    * trainer runs on a SAMPLE (labels are expensive, the feature
    * space is 64-dim — a few hundred thousand rows saturate it) and
    * the scoring pass is the corpus-sized one-scan projection. */
  def trainQualityClassifier(docs: DataFrame, labelCol: Column,
                             buckets: Int = 64, iterations: Int = 25,
                             stepSize: Double = 1.0,
                             featureScale: Double = 32.0)
      : (graft.ml.LinearModel, DataFrame) = {
    // pinned: the tokenize-bound featurize feeds BOTH the training RDD
    // and the caller's scoring pass, which releases it
    graft.Materialize.handOff(graft.Materialize.pin(hashedFeatures(docs, buckets)
        .join(docs.select(col("doc_id"), labelCol.cast("double").as("label")),
          Seq("doc_id"))
        .select(col("doc_id"), col("label"), col("features")))) { feats =>
      // GD conditioning: frequency features are O(0.01–0.2) while the
      // intercept gradient is O(0.1–0.5), so one η cannot serve both —
      // a weight-moving step makes the intercept oscillate (measured:
      // loss 0.69→11→2→9 at η=100). Train on features × featureScale
      // (both gradients now the same order, small η converges
      // monotonically) and fold the scale back into the returned
      // weights (wᵀ(s·x) = (s·w)ᵀx), so the model scores RAW
      // [[hashedFeatures]] frequencies.
      val rdd = graft.Tables.spreadIfNarrow(
          feats.select(col("label"), col("features")))
        .rdd.map { r =>
          val xs = r.getSeq[Double](1).toArray
          var i = 0
          while (i < xs.length) { xs(i) *= featureScale; i += 1 }
          (r.getDouble(0), org.apache.spark.ml.linalg.Vectors.dense(xs))
        }
      val m = new graft.ml.SketchLogisticRegression()
        .setIterations(iterations).setStepsize(stepSize)
        .setCompressionType("None")
        .fitRDD(rdd)
      (graft.ml.LinearModel(m.weights.map(_ * featureScale), m.intercept,
        m.lossHistory), feats)
    }
  }
}
