package perfbench

import graft.sketch.{GradientCodec, IdentityCodec}

/** Direct calls into the gradient codec on one exact gradient — the
  * paper's layer measured from outside the training loop. The gradient
  * is the full-data gradient at w = 0 that the generator computed from
  * its own rows, so frame size and error do not depend on the program's
  * aggregation order. Both frame kinds are timed: the dense frame
  * (`encode`/`decode`) and the sparse one (`encodeSparse`/`decodeSparse`)
  * that high-dimensional task partials ship. */
object CodecProbe {
  private val Warmup = 2
  private val Reps = 5

  def run(ctx: Ctx, codec: GradientCodec, grad: Array[Double]): Map[String, Double] = {
    val keys = grad.indices.filter(grad(_) != 0.0).toArray
    val vals = keys.map(grad(_))

    def timeMs[T](name: String)(f: => T): (T, Double) = {
      var out: T = f
      for (_ <- 1 until Warmup) out = f
      val ms = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        out = ctx.span(name)(f)
        (System.nanoTime() - t0) / 1e6
      }
      (out, Workload.median(ms))
    }

    val (frame, encMs) = timeMs("sketch.encode")(codec.encode(grad))
    val (decoded, decMs) = timeMs("sketch.decode")(codec.decode(frame))
    val (sparseFrame, encSparseMs) =
      timeMs("sketch.encode_sparse")(codec.encodeSparse(grad.length, keys.length, keys, vals))
    val (_, decSparseMs) = timeMs("sketch.decode_sparse")(codec.decodeSparse(sparseFrame))
    val identityBytes = IdentityCodec.encode(grad).length.toDouble

    var maxAbs = 0.0
    var errSq = 0.0
    var normSq = 0.0
    var i = 0
    while (i < grad.length) {
      val e = decoded(i) - grad(i)
      maxAbs = math.max(maxAbs, math.abs(e))
      errSq += e * e
      normSq += grad(i) * grad(i)
      i += 1
    }
    Map(
      "sketch.encode_ms" -> encMs,
      "sketch.decode_ms" -> decMs,
      "sketch.encode_sparse_ms" -> encSparseMs,
      "sketch.decode_sparse_ms" -> decSparseMs,
      "sketch.encoded_kb" -> frame.length / 1e3,
      "sketch.identity_kb" -> identityBytes / 1e3,
      "sketch.ratio_vs_identity" -> frame.length / identityBytes,
      "sketch.max_abs_err" -> maxAbs,
      "sketch.rel_l2_err" -> math.sqrt(errSq / math.max(normSq, Double.MinPositiveValue)))
  }
}
