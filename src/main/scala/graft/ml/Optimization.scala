package graft.ml

/** The reference solver's step-size and regularization surface,
  * re-expressed as plain Scala strategy objects.
  *
  * The reference exposes FlinkML's `LearningRateMethodValue`
  * (`SketchMultipleLinearRegression.scala:56-58,101-103,129,144`) and
  * `RegularizationPenaltyValue` / `RegularizationConstant`
  * (`SketchGradientDescent.scala:50-51`, applied through `takeStep`
  * at `SketchGradientDescent.scala:316-334`). Semantics below follow
  * the published FlinkML 1.7 `LearningRateMethod` /
  * `RegularizationPenalty` contracts: the effective rate is a pure
  * function of (initial rate, iteration, λ), and the penalty owns the
  * weight update so L1 can apply its proximal step after the gradient
  * step. Driver-side scalar math — nothing here touches the
  * distributed pass, so the treeAggregate shape is unchanged.
  */
sealed trait LearningRateMethod extends Serializable {
  /** Effective η for 1-based iteration `t`. */
  def rate(initial: Double, t: Int, regularizationConstant: Double): Double
}

object LearningRateMethod {
  /** η_t = η₀ / √t — the reference's only used method (defaults are
    * never overridden in `Test.scala`). */
  case object Default extends LearningRateMethod {
    def rate(initial: Double, t: Int, lambda: Double): Double =
      initial / math.sqrt(t)
  }

  /** η_t = η₀. */
  case object Constant extends LearningRateMethod {
    def rate(initial: Double, t: Int, lambda: Double): Double = initial
  }

  /** Bottou's asymptotically-optimal SGD schedule
    * η_t = 1 / (λ·(t₀ + t − 1)). */
  final case class Bottou(optimalInit: Double) extends LearningRateMethod {
    def rate(initial: Double, t: Int, lambda: Double): Double =
      1.0 / (lambda * (optimalInit + t - 1))
  }

  /** η_t = η₀ / t^decay. */
  final case class InvScaling(decay: Double) extends LearningRateMethod {
    def rate(initial: Double, t: Int, lambda: Double): Double =
      initial / math.pow(t, decay)
  }

  /** Xu (2011) schedule η_t = η₀·(1 + λ·η₀·t)^−decay. */
  final case class Xu(decay: Double) extends LearningRateMethod {
    def rate(initial: Double, t: Int, lambda: Double): Double =
      initial * math.pow(1.0 + lambda * initial * t, -decay)
  }
}

/** Weight-update + regularized-loss strategy. `takeStep` steps
  * `weights` in place by the mean gradient `gradSum(i) / count`,
  * dividing and updating each entry in one pass; the quotient is
  * taken first, so the weights are those of a separate division sweep
  * followed by the step, bit for bit. The intercept is
  * regularization-free per the reference
  * (`SketchGradientDescent.scala:310` updates it with the plain
  * gradient outside `takeStep`). */
sealed trait RegularizationPenalty extends Serializable {
  def takeStep(weights: Array[Double], gradSum: Array[Double], count: Double,
               regularizationConstant: Double, learningRate: Double): Unit
  /** Data loss → objective value (adds the penalty term). */
  def regLoss(loss: Double, weights: Array[Double],
              regularizationConstant: Double): Double
}

object RegularizationPenalty {
  def forName(name: String): RegularizationPenalty = name match {
    case "None" => NoRegularization
    case "L1"   => L1Regularization
    case "L2"   => L2Regularization
    case other  => throw new IllegalArgumentException(
      s"unknown regularization penalty '$other' (want None|L1|L2)")
  }
}

/** w ← w − η·g. */
case object NoRegularization extends RegularizationPenalty {
  def takeStep(w: Array[Double], g: Array[Double], n: Double, lambda: Double, eta: Double): Unit = {
    var i = 0
    while (i < w.length) { w(i) -= eta * (g(i) / n); i += 1 }
  }
  def regLoss(loss: Double, w: Array[Double], lambda: Double): Double = loss
}

/** Ridge: the λ·w gradient folds into the step, w ← w − η·(g + λ·w);
  * objective adds λ·‖w‖²/2. */
case object L2Regularization extends RegularizationPenalty {
  def takeStep(w: Array[Double], g: Array[Double], n: Double, lambda: Double, eta: Double): Unit = {
    var i = 0
    while (i < w.length) { w(i) -= eta * (g(i) / n + lambda * w(i)); i += 1 }
  }
  def regLoss(loss: Double, w: Array[Double], lambda: Double): Double = {
    var s = 0.0; var i = 0
    while (i < w.length) { s += w(i) * w(i); i += 1 }
    loss + lambda * s / 2.0
  }
}

/** Lasso via the proximal (soft-thresholding) operator: gradient step
  * first, then w_i ← sign(w_i)·max(0, |w_i| − λ·η) — the update that
  * actually produces exact zeros, unlike subgradient descent;
  * objective adds λ·‖w‖₁. */
case object L1Regularization extends RegularizationPenalty {
  def takeStep(w: Array[Double], g: Array[Double], n: Double, lambda: Double, eta: Double): Unit = {
    val shrink = lambda * eta
    var i = 0
    while (i < w.length) {
      val v = w(i) - eta * (g(i) / n)
      w(i) = math.signum(v) * math.max(0.0, math.abs(v) - shrink)
      i += 1
    }
  }
  def regLoss(loss: Double, w: Array[Double], lambda: Double): Double = {
    var s = 0.0; var i = 0
    while (i < w.length) { s += math.abs(w(i)); i += 1 }
    loss + lambda * s
  }
}
