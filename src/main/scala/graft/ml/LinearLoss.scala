package graft.ml

import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector}

/** Squared loss with linear prediction — parity with FlinkML's
  * `GenericLossFunction(SquaredLoss, LinearPrediction)` hard-coded by
  * the reference (`/root/reference/.../SketchMultipleLinearRegression.scala:85,131`,
  * `FlinkMultipleLinearRegression.scala:146,192`):
  *   prediction  ŷ = wᵀx + b
  *   loss        L = ½(ŷ − y)²
  *   gradient    ∇w = (ŷ − y)·x,  ∇b = (ŷ − y)
  */
/** Pointwise loss over the linear margin z = wᵀx + b: returns the
  * gradient SCALE g (so ∇w = g·x, ∇b = g) and the loss value. Keeping
  * the family behind one two-double contract lets the SGD loop, the
  * [[GradientAccumulator]] treeAggregate buffer, and the sketch codec
  * path serve every generalized linear loss unchanged. */
trait PointLoss extends Serializable {
  def scaleAndLoss(z: Double, y: Double): (Double, Double)
}

/** Squared loss (the reference's hard-coded choice): g = z − y,
  * L = ½(z − y)². */
object SquaredPointLoss extends PointLoss {
  def scaleAndLoss(z: Double, y: Double): (Double, Double) = {
    val r = z - y
    (r, 0.5 * r * r)
  }
}

/** Logistic (log-) loss for y ∈ {0, 1}: g = σ(z) − y, with the loss
  * in the overflow-stable form max(z,0) − z·y + log1p(exp(−|z|)). */
object LogisticPointLoss extends PointLoss {
  def scaleAndLoss(z: Double, y: Double): (Double, Double) = {
    val p = 1.0 / (1.0 + math.exp(-z))
    val loss = math.max(z, 0.0) - z * y + math.log1p(math.exp(-math.abs(z)))
    (p - y, loss)
  }
}

object LinearLoss {

  def predict(w: Array[Double], b: Double, x: Vector): Double = {
    var dot = b
    x match {
      case d: DenseVector =>
        val v = d.values
        var i = 0
        while (i < v.length) { dot += w(i) * v(i); i += 1 }
      case s: SparseVector =>
        val idx = s.indices; val v = s.values
        var i = 0
        while (i < idx.length) { dot += w(idx(i)) * v(i); i += 1 }
    }
    dot
  }

  def loss(w: Array[Double], b: Double, x: Vector, y: Double): Double = {
    val r = predict(w, b, x) - y
    0.5 * r * r
  }

}
