package graft.ml

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.sketch.{GradientCodec, SketchCodec}

/** Multiple linear regression trained by full-batch gradient descent
  * with optional SketchML-style gradient compression — the Spark
  * re-expression of the reference's
  * `SketchMultipleLinearRegression` + `SketchGradientDescent`
  * (`/root/reference/src/main/scala/de/tub/dima/bdapro/sketchml/flink/`).
  *
  * Parameter surface and defaults mirror
  * `SketchMultipleLinearRegression.scala:89-103`:
  * iterations=10, stepSize=0.1, convergenceThreshold off,
  * learning rate η_t = stepSize/√t (FlinkML `LearningRateMethod.Default`,
  * applied at `SketchGradientDescent.scala:289-292`), regularization
  * `None` (`takeStep` = plain `w ← w − η·∇̄`,
  * `SketchGradientDescent.scala:325-333`). The full FlinkML schedule /
  * penalty families the reference re-exposes are in [[Optimization]]
  * (`setLearningRateMethod` / `setRegularizationPenalty`).
  *
  * Execution shape (SURVEY §3): Flink's bulk iteration
  * (`SketchGradientDescent.scala:159-169`) becomes a driver loop —
  * the idiomatic Spark form (same as MLlib `GradientDescent
  * .runMiniBatchSGD`): persist the training set once, then per
  * iteration broadcast the weights' nonzeros as one [[WeightFrame]]
  * (the reference's `withBroadcastSet` downlink, in O(nnz(w)) bytes
  * instead of O(dim)) and run one `treeAggregate` whose buffer
  * serializes through the gradient codec ([[GradientAccumulator]]).
  * Loss for the convergence test (`SketchGradientDescent.scala:85-146`)
  * is fused into the same pass, so a fit of k iterations runs exactly
  * k jobs.
  *
  * What is persisted is one [[RowBlock]] per non-empty partition —
  * labels, CSR rows, the partition's sorted distinct feature keys and
  * a key slot per nonzero — not the (label, Vector) rows. The first
  * aggregation builds every block, in parallel, and is also the
  * dimension probe: it needs no weights (the first frame is empty), and
  * its aggregate carries the `dim` of the blocks it added. Each task
  * adds its whole block in one [[GradientAccumulator.add]] call, and
  * its partial comes out key-sorted, ready for the codec. The driver
  * steps the weights in place, mean and penalty in one pass
  * ([[RegularizationPenalty.takeStep]]). The block cache and the live
  * weight broadcast are released on every exit, exceptions included.
  */
class SketchLinearRegression extends Serializable {

  private var iterations: Int = 10
  private var stepSize: Double = 0.1
  private var convergenceThreshold: Option[Double] = None
  private var compressionType: String = "None"
  private var treeDepth: Int = 2
  private var learningRateMethod: LearningRateMethod = LearningRateMethod.Default
  private var regularizationPenalty: RegularizationPenalty = NoRegularization
  private var regularizationConstant: Double = 0.0

  def setIterations(n: Int): this.type = { iterations = n; this }
  def setStepsize(s: Double): this.type = { stepSize = s; this }
  def setConvergenceThreshold(t: Double): this.type = { convergenceThreshold = Some(t); this }
  /** "Sketch" | "None" — the reference's `--compressionType` (`SketchConfig.scala:13`). */
  def setCompressionType(c: String): this.type = { compressionType = c; this }
  /** Step-size schedule (`SketchMultipleLinearRegression.scala:56-58`). */
  def setLearningRateMethod(m: LearningRateMethod): this.type = { learningRateMethod = m; this }
  /** None | L1 | L2 penalty applied in `takeStep`
    * (`SketchGradientDescent.scala:50,316-334`). */
  def setRegularizationPenalty(p: RegularizationPenalty): this.type = { regularizationPenalty = p; this }
  def setRegularizationConstant(c: Double): this.type = { regularizationConstant = c; this }
  /** treeAggregate depth — 2 ≙ the reference's combiner-tree Reduce
    * path; 1 ≙ its single-combiner ReduceGroup path
    * (`SketchConfig.scala:17`, `SketchGradientDescent.scala:235-282`). */
  def setTreeDepth(d: Int): this.type = { treeDepth = d; this }

  /** Pointwise loss over the linear margin — squared here; overridden
    * by [[SketchLogisticRegression]]. Everything else (driver loop,
    * codec-compressed treeAggregate, schedules, penalties) is shared. */
  protected def pointLoss: PointLoss = SquaredPointLoss

  def fit(data: Dataset[graft.sources.LibSvm.LabeledVec]): LinearModel =
    fitRDD(data.rdd.map(lv => (lv.label, lv.features)))

  /** Core loop over (label, features) rows. */
  def fitRDD(data: RDD[(Double, Vector)]): LinearModel = {
    // one cached block per non-empty partition, built by the first job
    // that reads it (Flink bulk iteration's implicit cache, SURVEY §4)
    val blocks = data
      .mapPartitions(rows => if (rows.hasNext) Iterator(RowBlock(rows)) else Iterator.empty)
    graft.Materialize.withCached(blocks)(train(blocks))
  }

  private def train(blocks: RDD[RowBlock]): LinearModel = {
    val sc = blocks.sparkContext
    val codec: GradientCodec = SketchCodec.forName(compressionType)

    // zeros init (SketchGradientDescent.scala:55), at the dim the first
    // aggregation reads off the blocks; until then the frame is empty
    var weights = Array.emptyDoubleArray
    var intercept = 0.0
    var prevLoss = Double.NaN
    val lossHistory = Array.newBuilder[Double]
    var t = 1
    var converged = false
    while (t <= iterations && !converged) {
      val bcW = sc.broadcast(WeightFrame.encode(weights))
      val bcB = intercept
      val agg =
        try blocks.treeAggregate(new GradientAccumulator(codec, pointLoss))(
          seqOp = (acc, blk) => acc.add(bcW.value, bcB, blk),
          combOp = (a, b) => a.merge(b),
          depth = treeDepth)
        finally bcW.destroy()
      if (agg.count == 0)
        throw new IllegalArgumentException("cannot fit a linear model on an empty dataset")
      if (t == 1) weights = new Array[Double](agg.dim)
      val n = agg.count.toDouble
      // mean data loss + penalty term (SketchGradientDescent.scala:371-383;
      // convergence tracks the regularized objective so an L1/L2 run
      // can't "converge" by trading data loss against the penalty)
      val curLoss = regularizationPenalty.regLoss(
        agg.lossSum / n, weights, regularizationConstant)
      lossHistory += curLoss
      val eta = learningRateMethod.rate(stepSize, t, regularizationConstant)
      // agg.grad densifies a sparse aggregate once, driver-side; the
      // step divides by n and updates the weights in the same pass
      regularizationPenalty.takeStep(weights, agg.grad, n, regularizationConstant, eta)
      // intercept is regularization-free (SketchGradientDescent.scala:310)
      intercept -= eta * agg.interceptGrad / n
      // relative-loss-change termination (SketchGradientDescent.scala:129-137).
      // prevLoss can be exactly 0 (perfectly fit data): guard the
      // denominator so 0→0 counts as converged instead of NaN-ing the
      // test and running every remaining iteration.
      converged = convergenceThreshold.exists(th =>
        !prevLoss.isNaN &&
          math.abs(prevLoss - curLoss) / math.max(prevLoss, 1e-12) < th)
      prevLoss = curLoss
      t += 1
    }
    LinearModel(weights, intercept, lossHistory.result())
  }
}

/** Fitted model: predict / evaluate surface of the reference's
  * `Predictor` (`SketchMultipleLinearRegression.scala:152-173`,
  * `Test.scala:52-62`). */
case class LinearModel(weights: Array[Double], intercept: Double,
                       lossHistory: Array[Double] = Array.empty) {

  def predict(x: Vector): Double = LinearLoss.predict(weights, intercept, x)

  /** Columnar predict over an `array<double>` features column — stays
    * inside whole-stage codegen (no UDF): ŷ = wᵀx + b. */
  def transform(df: DataFrame, featuresCol: String = "features",
                outCol: String = "prediction"): DataFrame =
    df.withColumn(outCol,
      VectorOps.linearPredict(col(featuresCol), weights.toSeq, intercept))

  /** (truth, prediction) pairs (`Test.scala:52`, FlinkML
    * `Predictor.evaluate`). */
  def evaluate(df: DataFrame, featuresCol: String = "features",
               labelCol: String = "label"): DataFrame =
    transform(df, featuresCol, "prediction")
      .select(col(labelCol).as("truth"), col("prediction"))
}
