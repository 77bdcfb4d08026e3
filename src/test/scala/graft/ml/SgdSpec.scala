package graft.ml

import org.apache.spark.ml.linalg.Vectors

import graft.SparkTestBase

/** SGD acceptance per SURVEY §5 / FIXTURES §B.2: planted-model
  * recovery, monotone loss, convergence stop, and the reference's
  * raison d'être — sketch-compressed vs uncompressed A/B parity
  * (Test.scala:43,82). */
class SgdSpec extends SparkTestBase {

  /** y = w·x + b + ε with planted w, seeded noise. */
  private def planted(n: Int, dim: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    val w = Array.tabulate(dim)(i => (i % 5) * 0.5 - 1.0)
    val b = 0.7
    val rows = (0 until n).map { _ =>
      val x = Array.fill(dim)(rnd.nextGaussian())
      val y = x.zip(w).map { case (a, c) => a * c }.sum + b + rnd.nextGaussian() * 0.01
      (y, Vectors.dense(x))
    }
    (spark.sparkContext.parallelize(rows, 4), w, b)
  }

  test("loss decreases over epochs and weights approach planted values") {
    val (data, w, b) = planted(2000, 10, seed = 42)
    val m = new SketchLinearRegression()
      .setIterations(50).setStepsize(0.3).fitRDD(data)
    val lh = m.lossHistory
    assert(lh.head > lh.last, s"loss did not decrease: ${lh.head} -> ${lh.last}")
    // MAE of recovered weights
    val mae = m.weights.zip(w).map { case (a, c) => math.abs(a - c) }.sum / w.length
    assert(mae < 0.15, s"weight MAE $mae; got ${m.weights.toSeq} want ${w.toSeq}")
    assert(math.abs(m.intercept - b) < 0.2, s"intercept ${m.intercept} vs $b")
  }

  test("convergence threshold stops early (S19 semantics)") {
    val (data, _, _) = planted(500, 5, seed = 7)
    val m = new SketchLinearRegression()
      .setIterations(200).setStepsize(0.5).setConvergenceThreshold(1e-4)
      .fitRDD(data)
    assert(m.lossHistory.length < 200, "never converged")
  }

  test("zero loss converges instead of NaN-ing the relative test") {
    // perfectly-fit data: w=0,b=0 already has loss 0, so prevLoss=0.
    // The unguarded relative test 0/0 = NaN would never terminate.
    val rows = Seq((0.0, Vectors.dense(0.0, 0.0)), (0.0, Vectors.dense(0.0, 0.0)))
    val rdd = spark.sparkContext.parallelize(rows, 2)
    val m = new SketchLinearRegression()
      .setIterations(50).setStepsize(0.1).setConvergenceThreshold(1e-4)
      .fitRDD(rdd)
    assert(m.lossHistory.length == 2,
      s"0→0 loss should converge at iteration 2, ran ${m.lossHistory.length}")
    assert(m.lossHistory.forall(l => !l.isNaN))
  }

  test("sketch-compressed training tracks uncompressed (A/B parity)") {
    // The reference's acceptance criterion is *comparable accuracy*
    // between --sketchOrFlink Sketch|Flink runs (Test.scala:43,82),
    // not weight equality — the codec is lossy by design. Assert the
    // sketch-trained model still recovers the planted weights nearly
    // as well as the uncompressed run.
    val (data, w, _) = planted(3000, 50, seed = 99)
    data.cache()
    val none = new SketchLinearRegression()
      .setIterations(20).setStepsize(0.3).setCompressionType("None").fitRDD(data)
    val sk = new SketchLinearRegression()
      .setIterations(20).setStepsize(0.3).setCompressionType("Sketch").fitRDD(data)
    def maeTo(m: LinearModel) =
      m.weights.zip(w).map { case (a, c) => math.abs(a - c) }.sum / w.length
    val (maeNone, maeSk) = (maeTo(none), maeTo(sk))
    assert(maeSk < 2.0 * maeNone + 0.1, s"planted-MAE none=$maeNone sketch=$maeSk")
    assert(sk.lossHistory.last < 3.0 * none.lossHistory.last + 0.1,
      s"final losses ${none.lossHistory.last} vs ${sk.lossHistory.last}")
    assert(sk.lossHistory.head > sk.lossHistory.last, "sketch run did not descend")
  }

  test("single iteration equals closed-form gradient step") {
    val rows = Seq((1.0, Vectors.dense(2.0)), (2.0, Vectors.dense(4.0)))
    val rdd = spark.sparkContext.parallelize(rows, 2)
    val m = new SketchLinearRegression().setIterations(1).setStepsize(0.1).fitRDD(rdd)
    // grad_w = avg(-y*x) = -(2 + 8)/2 = -5 ; w1 = 0.1*5 = 0.5
    assert(math.abs(m.weights(0) - 0.5) < 1e-12)
    // grad_b = avg(-y) = -1.5 ; b1 = 0.15
    assert(math.abs(m.intercept - 0.15) < 1e-12)
  }

  // --- learning-rate-method / regularization parity (FlinkML
  // LearningRateMethod + RegularizationPenalty families the reference
  // re-exposes; SketchMultipleLinearRegression.scala:56-58,
  // SketchGradientDescent.scala:50-51). Same two-point fixture as the
  // closed-form test above: mean grad_w = -5, grad_b = -1.5 at w=0.

  private def twoPoint = spark.sparkContext.parallelize(
    Seq((1.0, Vectors.dense(2.0)), (2.0, Vectors.dense(4.0))), 2)

  test("learning rate schedules: closed-form single step per method") {
    def w1(m: LearningRateMethod, lambda: Double = 0.0) =
      new SketchLinearRegression().setIterations(1).setStepsize(0.1)
        .setLearningRateMethod(m).setRegularizationConstant(lambda)
        .fitRDD(twoPoint).weights(0)
    // Default: η = 0.1/√1 = 0.1 → w = 0.5 (matches legacy path)
    assert(math.abs(w1(LearningRateMethod.Default) - 0.5) < 1e-12)
    // Constant: same at t=1
    assert(math.abs(w1(LearningRateMethod.Constant) - 0.5) < 1e-12)
    // Bottou(t0=4), λ=0.5: η = 1/(0.5·(4+1−1)) = 0.5 → w = 2.5
    assert(math.abs(w1(LearningRateMethod.Bottou(4.0), lambda = 0.5) - 2.5) < 1e-12)
    // InvScaling(0.25): η = 0.1/1^0.25 = 0.1 → w = 0.5
    assert(math.abs(w1(LearningRateMethod.InvScaling(0.25)) - 0.5) < 1e-12)
    // Xu(0.5), λ=2: η = 0.1·(1+2·0.1·1)^−0.5 → w = 5η
    val etaXu = 0.1 * math.pow(1.2, -0.5)
    assert(math.abs(w1(LearningRateMethod.Xu(0.5), lambda = 2.0) - 5 * etaXu) < 1e-12)
  }

  test("schedules decay across iterations (t enters the rate)") {
    def w2(m: LearningRateMethod) =
      new SketchLinearRegression().setIterations(2).setStepsize(0.1)
        .setLearningRateMethod(m).fitRDD(twoPoint).weights(0)
    // Step 2's gradient at w1=0.5 is positive (overshoot), so the
    // larger the step-2 rate the further w comes back down:
    // Constant (η=0.1) < Default (η/√2) < InvScaling(1) (η/2).
    val (wc, wd, wi) = (w2(LearningRateMethod.Constant),
      w2(LearningRateMethod.Default), w2(LearningRateMethod.InvScaling(1.0)))
    assert(wc < wd && wd < wi, s"expected Constant < Default < InvScaling(1): $wc $wd $wi")
  }

  test("L2 takeStep folds λ·w into the gradient and adds λ‖w‖²/2 to loss") {
    // iter 1 from w=0: L2 term is 0 → w1 = 0.5 either way.
    // iter 2: grad_w = avg((w·x−y)·x) at w=0.5,b=0.15... instead check
    // directly with 1 iteration from nonzero start via two iterations:
    val m = new SketchLinearRegression().setIterations(2).setStepsize(0.1)
      .setLearningRateMethod(LearningRateMethod.Constant)
      .setRegularizationPenalty(L2Regularization).setRegularizationConstant(0.8)
      .fitRDD(twoPoint)
    val plain = new SketchLinearRegression().setIterations(2).setStepsize(0.1)
      .setLearningRateMethod(LearningRateMethod.Constant)
      .fitRDD(twoPoint)
    // hand-rolled iter 2 with the penalty: w2 = w1 − η·(g(w1) + λ·w1)
    // where g/b come from the same data pass as the unregularized run
    val eta = 0.1; val lambda = 0.8
    val (w1v, b1) = (0.5, 0.15)
    val g = Seq((1.0, 2.0), (2.0, 4.0)).map { case (y, x) =>
      (w1v * x + b1 - y) * x }.sum / 2
    val expected = w1v - eta * (g + lambda * w1v)
    assert(math.abs(m.weights(0) - expected) < 1e-12,
      s"L2 w2 ${m.weights(0)} vs $expected (plain ${plain.weights(0)})")
    assert(m.weights(0) < plain.weights(0), "L2 must shrink vs unregularized")
    // reported loss is the regularized objective
    assert(m.lossHistory(1) > plain.lossHistory(1),
      "L2 objective must include the penalty term")
  }

  test("L1 proximal step soft-thresholds small weights to exact zero") {
    // big λ: shrinkage λ·η = 0.6 exceeds the 0.5 gradient step → w = 0 exactly
    val m = new SketchLinearRegression().setIterations(1).setStepsize(0.1)
      .setLearningRateMethod(LearningRateMethod.Constant)
      .setRegularizationPenalty(L1Regularization).setRegularizationConstant(6.0)
      .fitRDD(twoPoint)
    assert(m.weights(0) == 0.0, s"expected exact zero, got ${m.weights(0)}")
    // moderate λ: w = sign(0.5)·(0.5 − 0.1·1.0) = 0.4
    val m2 = new SketchLinearRegression().setIterations(1).setStepsize(0.1)
      .setLearningRateMethod(LearningRateMethod.Constant)
      .setRegularizationPenalty(L1Regularization).setRegularizationConstant(1.0)
      .fitRDD(twoPoint)
    assert(math.abs(m2.weights(0) - 0.4) < 1e-12, s"got ${m2.weights(0)}")
  }

  test("regularization never touches the intercept") {
    val reg = new SketchLinearRegression().setIterations(1).setStepsize(0.1)
      .setRegularizationPenalty(L2Regularization).setRegularizationConstant(10.0)
      .fitRDD(twoPoint)
    val plain = new SketchLinearRegression().setIterations(1).setStepsize(0.1)
      .fitRDD(twoPoint)
    assert(reg.intercept == plain.intercept,
      s"intercept must be penalty-free: ${reg.intercept} vs ${plain.intercept}")
  }

  test("model transform/evaluate computes wᵀx + b columnar") {
    import spark.implicits._
    val df = Seq((1.0, Seq(1.0, 2.0)), (0.0, Seq(0.5, 0.5)))
      .toDF("label", "features")
    val m = LinearModel(Array(2.0, 1.0), 0.5)
    val preds = m.evaluate(df).collect().map(r => (r.getDouble(0), r.getDouble(1))).toMap
    assert(preds(1.0) == 2.0 * 1.0 + 1.0 * 2.0 + 0.5)
    assert(preds(0.0) == 2.0 * 0.5 + 1.0 * 0.5 + 0.5)
  }

  test("logistic: one step from zero matches the closed form") {
    // at w=0,b=0 every margin is 0 ⇒ p=½ and the gradient scale is
    // (½ − y) exactly; one Default-schedule step of size η gives
    // w = −η·mean((½−y)·x), b = −η·mean(½−y)
    val eta = 0.8
    val rows = Seq(
      (1.0, Vectors.dense(2.0, -1.0)),
      (0.0, Vectors.dense(0.5, 3.0)),
      (1.0, Vectors.dense(-1.5, 0.25)))
    val data = spark.sparkContext.parallelize(rows, 2)
    val m = new SketchLogisticRegression()
      .setIterations(1).setStepsize(eta).fitRDD(data)
    def mean(f: ((Double, org.apache.spark.ml.linalg.Vector)) => Double) =
      rows.map(f).sum / rows.length
    val expW0 = -eta * mean { case (y, x) => (0.5 - y) * x(0) }
    val expW1 = -eta * mean { case (y, x) => (0.5 - y) * x(1) }
    val expB = -eta * mean { case (y, _) => 0.5 - y }
    assert(math.abs(m.weights(0) - expW0) < 1e-12)
    assert(math.abs(m.weights(1) - expW1) < 1e-12)
    assert(math.abs(m.intercept - expB) < 1e-12)
    // first-iteration loss at w=0 is exactly log 2 per point
    assert(math.abs(m.lossHistory.head - math.log(2.0)) < 1e-12)
  }

  test("logistic separates a linearly separable cloud") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 400).map { _ =>
      val x = Array(rnd.nextGaussian(), rnd.nextGaussian())
      val y = if (x(0) + 0.5 * x(1) > 0) 1.0 else 0.0
      (y, Vectors.dense(x))
    }
    val data = spark.sparkContext.parallelize(rows, 4)
    val m = new SketchLogisticRegression()
      .setIterations(40).setStepsize(2.0).fitRDD(data)
    val acc = rows.count { case (y, x) =>
      val z = m.weights(0) * x(0) + m.weights(1) * x(1) + m.intercept
      (if (z >= 0) 1.0 else 0.0) == y
    }.toDouble / rows.length
    assert(acc >= 0.95, s"logistic failed to separate: accuracy $acc")
    // log-loss must fall monotonically-ish: final well below initial
    assert(m.lossHistory.last < m.lossHistory.head / 2)
  }

  test("sketch-compressed logistic tracks the uncompressed run (A/B)") {
    // the reference's raison d'être — lossy gradient compression on
    // the aggregation exchange — must transfer to the logistic loss
    // through the PointLoss seam without derailing training
    val rnd = new scala.util.Random(23)
    val rows = (0 until 600).map { _ =>
      val x = Array(rnd.nextGaussian(), rnd.nextGaussian(), rnd.nextGaussian())
      val y = if (x(0) - 0.7 * x(2) > 0) 1.0 else 0.0
      (y, Vectors.dense(x))
    }
    val data = spark.sparkContext.parallelize(rows, 4)
    def fit(codec: String) = new SketchLogisticRegression()
      .setIterations(30).setStepsize(2.0).setCompressionType(codec).fitRDD(data)
    val plain = fit("None")
    val sketch = fit("Sketch")
    def acc(m: LinearModel) = rows.count { case (y, x) =>
      val z = m.weights.zip(x.toArray).map { case (w, v) => w * v }.sum + m.intercept
      (if (z >= 0) 1.0 else 0.0) == y
    }.toDouble / rows.length
    assert(acc(plain) >= 0.95, s"plain accuracy ${acc(plain)}")
    assert(acc(sketch) >= 0.93, s"sketch accuracy ${acc(sketch)}")
    val mae = plain.weights.zip(sketch.weights)
      .map { case (a, b) => math.abs(a - b) }.sum / plain.weights.length
    val scale = plain.weights.map(math.abs).max
    assert(mae <= 0.2 * scale,
      s"sketch drifted: MAE $mae vs plain ${plain.weights.toSeq} / sketch ${sketch.weights.toSeq}")
  }

  test("sparse high-dim accumulation: bounded buffers, weights equal the dense path's") {
    import org.apache.spark.ml.linalg.Vectors
    val dim = 1000000
    // 60 sparse rows over 3 active features spread across the index
    // space — the regime where a dense per-task buffer would burn
    // 8 MB for 3 live entries
    val active = Array(0, 499999, 999999)
    val rnd = new scala.util.Random(7)
    val wTrue = Array(1.5, -2.0, 0.5)
    val rows = (0 until 60).map { _ =>
      val xs = active.map(_ => rnd.nextGaussian())
      val y = xs.zip(wTrue).map { case (a, c) => a * c }.sum + 0.3
      (y, Vectors.sparse(dim, active, xs))
    }
    // the same data geometry at dim = 3: per-coordinate gradient math
    // is identical (IdentityCodec — no lossy stage), so the fitted
    // weights agree to within treeAggregate's driver-merge float
    // reorder (RDD.reduce folds partials in task-COMPLETION order, a
    // ±few-ULP wobble that exists between any two runs, dense or not)
    val big = new SketchLinearRegression().setIterations(15).setStepsize(0.2)
      .fitRDD(spark.sparkContext.parallelize(rows, 4))
    val small = new SketchLinearRegression().setIterations(15).setStepsize(0.2)
      .fitRDD(spark.sparkContext.parallelize(
        rows.map { case (y, v) =>
          (y, Vectors.dense(active.map(v.apply))) }, 4))
    active.zipWithIndex.foreach { case (i, j) =>
      assert(math.abs(big.weights(i) - small.weights(j)) < 1e-9,
        s"sparse-path weight at $i diverged: ${big.weights(i)} vs ${small.weights(j)}")
    }
    assert(math.abs(big.intercept - small.intercept) < 1e-9)
    assert(big.weights.count(_ != 0.0) == active.length,
      "inactive coordinates moved in the sparse fit")

    // buffer-level contract: the accumulator stays sparse through a
    // block add, a serialization round-trip, and sparse∪sparse merges —
    // and densifies when a dense row arrives, with equal sums
    val acc = new GradientAccumulator(graft.sketch.IdentityCodec)
    val w0 = WeightFrame.encode(new Array[Double](dim))
    acc.add(w0, 0.0, RowBlock(rows.take(20).iterator))
    assert(acc.isSparse, "sparse rows densified the buffer")
    val ser = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(ser); oos.writeObject(acc); oos.close()
    assert(ser.size() < 64 * 1024,
      s"sparse wire frame is ${ser.size()} B — a densified frame would be ~8 MB")
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(ser.toByteArray))
      .readObject().asInstanceOf[GradientAccumulator]
    assert(back.isSparse, "deserialization densified the buffer")
    val other = new GradientAccumulator(graft.sketch.IdentityCodec)
    other.add(w0, 0.0, RowBlock(rows.drop(20).iterator))
    back.merge(other)
    assert(back.isSparse, "sparse ∪ sparse merge densified")
    val direct = new GradientAccumulator(graft.sketch.IdentityCodec)
    direct.add(w0, 0.0, RowBlock(rows.iterator))
    active.foreach { i =>
      assert(math.abs(back.grad(i) - direct.grad(i)) < 1e-12,
        s"merged sparse sum diverged at $i")
    }
    val denseRow = (1.0, Vectors.dense(Array.fill(dim)(0.0).updated(5, 1.0)))
    val forced = new GradientAccumulator(graft.sketch.IdentityCodec)
    forced.add(w0, 0.0, RowBlock(Iterator(denseRow)))
    assert(!forced.isSparse, "a dense row should densify the buffer")
  }

  test("RowBlock keys and slots equal a sort plus a binary search per nonzero") {
    import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector}
    val rnd = new scala.util.Random(9)
    def sparseRow(dim: Int, n: Int): (Double, Vector) = {
      val idx = Array.fill(n)(rnd.nextInt(dim)).distinct.sorted
      (rnd.nextGaussian(), Vectors.sparse(dim, idx, idx.map(_ => rnd.nextGaussian())))
    }
    def emptyRow(dim: Int): (Double, Vector) = (0.0, Vectors.sparse(dim, Array.emptyIntArray, Array.emptyDoubleArray))
    val blocks = Seq(
      // dense rows, sparse rows sharing columns, and empty sparse rows
      Seq.tabulate(30)(r => r % 3 match {
        case 0 => (1.0, Vectors.dense(Array.fill(50)(rnd.nextGaussian())))
        case 1 => emptyRow(50)
        case _ => sparseRow(50, 8)
      }),
      Seq.fill(10)(emptyRow(70)),
      // column ids that need two and three radix digits
      Seq.fill(2000)(sparseRow(1 << 20, 40)),
      Seq.fill(500)(sparseRow(1 << 30, 20)))
    for (rows <- blocks) {
      val blk = RowBlock(rows.iterator)
      val expectCols = rows.flatMap {
        case (_, d: DenseVector) => d.values.indices
        case (_, s: SparseVector) => s.indices.toSeq
      }.toArray
      val keys = expectCols.sorted.distinct
      assert(blk.cols.sameElements(expectCols))
      assert(blk.keys.sameElements(keys), s"${rows.length} rows: keys differ")
      assert(blk.slots.sameElements(expectCols.map(java.util.Arrays.binarySearch(keys, _))),
        s"${rows.length} rows: slots differ")
    }
  }

  test("block partials ship the row-at-a-time reference's exact codec frame") {
    import org.apache.spark.ml.linalg.SparseVector
    val rnd = new scala.util.Random(5)
    // dim 2^20 takes the sparse (slot-array) path, dim 5000 the dense
    // one; keys repeat across rows so per-key sums have many terms
    for (dim <- Seq(1 << 20, 5000)) {
      val rows = (0 until 200).map { _ =>
        val idx = Array.fill(12)(rnd.nextInt(600) * (dim / 600)).distinct.sorted
        (rnd.nextGaussian(), Vectors.sparse(dim, idx, idx.map(_ => rnd.nextGaussian()))
          .asInstanceOf[SparseVector])
      }
      val w = Array.tabulate(dim)(i => if (i % 3 == 0) 0.01 * (i % 7) else 0.0)
      val b = 0.25
      // reference: a plain map summed one row at a time, in row order
      val ref = scala.collection.mutable.HashMap.empty[Int, Double]
      var interceptRef = 0.0
      rows.foreach { case (y, x) =>
        val g = LinearLoss.predict(w, b, x) - y
        x.indices.indices.foreach { j =>
          ref(x.indices(j)) = ref.getOrElse(x.indices(j), 0.0) + g * x.values(j)
        }
        interceptRef += g
      }
      val ks = ref.keys.toArray.sorted
      val vs = ks.map(ref)
      for (codec <- Seq(new graft.sketch.SketchCodec(), graft.sketch.IdentityCodec)) {
        val acc = new GradientAccumulator(codec)
          .add(WeightFrame.encode(w), b, RowBlock(rows.iterator))
        assert(acc.isSparse == (dim > GradientAccumulator.DenseDim))
        assert(acc.interceptGrad == interceptRef)
        codec match {
          case _: graft.sketch.SketchCodec =>
            assert(acc.frame.sameElements(codec.encodeSparse(dim, ks.length, ks, vs)),
              s"dim $dim: Sketch frame differs from the row-at-a-time reference")
          case _ =>
            val g = acc.grad
            ks.indices.foreach(k => assert(g(ks(k)) == vs(k), s"dim $dim key ${ks(k)}"))
            assert(g.count(_ != 0.0) == ks.count(k => ref(k) != 0.0))
        }
      }
    }
  }

  // --- the weight downlink: one WeightFrame of the nonzeros per iteration

  private def bitsOf(xs: Array[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)

  /** The loop the frame downlink replaced, kept here as the reference:
    * a dimension probe; every iteration the dense weights broadcast and
    * read by column, each partition's per-key sums added in row order
    * and shipped as one codec frame, the frames summed on the driver;
    * then a separate mean sweep, a clone, and the step. */
  private def denseDownlinkFit(data: org.apache.spark.rdd.RDD[(Double, org.apache.spark.ml.linalg.Vector)],
      iterations: Int, stepSize: Double, codec: graft.sketch.GradientCodec,
      penalty: RegularizationPenalty, lambda: Double): LinearModel = {
    val sc = data.sparkContext
    val dim = data.map(_._2.size).first()
    var weights = new Array[Double](dim)
    var intercept = 0.0
    val losses = Array.newBuilder[Double]
    for (t <- 1 to iterations) {
      val bcW = sc.broadcast(weights)
      val b = intercept
      val partials = data.mapPartitions { rows =>
        val w = bcW.value
        val sums = scala.collection.mutable.HashMap.empty[Int, Double]
        var gb = 0.0; var loss = 0.0; var n = 0L
        rows.foreach { case (y, x) =>
          val (g, l) = SquaredPointLoss.scaleAndLoss(LinearLoss.predict(w, b, x), y)
          x.foreachActive((i, v) => sums(i) = sums.getOrElse(i, 0.0) + g * v)
          gb += g; loss += l; n += 1
        }
        val ks = sums.keys.toArray.sorted
        if (n == 0) Iterator.empty
        else Iterator((codec.encodeSparse(dim, ks.length, ks, ks.map(sums)), gb, loss, n))
      }.collect()
      bcW.destroy()
      val grad = new Array[Double](dim)
      partials.foreach { p =>
        val sg = codec.decodeSparse(p._1)
        sg.keys.indices.foreach(j => grad(sg.keys(j)) += sg.vals(j))
      }
      val n = partials.map(_._4).sum.toDouble
      losses += penalty.regLoss(partials.map(_._3).sum / n, weights, lambda)
      val eta = LearningRateMethod.Default.rate(stepSize, t, lambda)
      var i = 0
      while (i < dim) { grad(i) /= n; i += 1 }
      val w2 = weights.clone()
      i = 0
      while (i < dim) {
        penalty match {
          case NoRegularization => w2(i) -= eta * grad(i)
          case L2Regularization => w2(i) -= eta * (grad(i) + lambda * w2(i))
          case L1Regularization =>
            val v = w2(i) - eta * grad(i)
            w2(i) = math.signum(v) * math.max(0.0, math.abs(v) - lambda * eta)
        }
        i += 1
      }
      weights = w2
      intercept -= eta * partials.map(_._2).sum / n
    }
    LinearModel(weights, intercept, losses.result())
  }

  test("the frame downlink fits bit-identically to the dense-broadcast loop") {
    // two partitions: the driver adds the two partials in either order,
    // and a + b == b + a, so both loops are deterministic
    val rnd = new scala.util.Random(17)
    val sparseDim = 1 << 20 // above DenseDim: the sparse slot-array path
    val features = Array.fill(300)(rnd.nextInt(sparseDim)).distinct.sorted
    val sparseRows = (0 until 240).map { _ =>
      val idx = Array.fill(15)(features(rnd.nextInt(features.length))).distinct.sorted
      val xs = idx.map(_ => rnd.nextGaussian())
      (xs.sum * 0.3 + rnd.nextGaussian() * 0.1, Vectors.sparse(sparseDim, idx, xs))
    }
    val denseRows = (0 until 120).map { _ =>
      val x = Array.fill(12)(rnd.nextGaussian())
      (x.take(6).zipWithIndex.map { case (v, i) => v * (i % 4 - 1.5) }.sum, Vectors.dense(x))
    }
    for ((rows, name) <- Seq(sparseRows -> "sparse", denseRows -> "dense")) {
      val data = spark.sparkContext.parallelize(rows, 2)
      data.cache()
      val touched = rows.flatMap(_._2.toSparse.indices).distinct
      for (codecName <- Seq("None", "Sketch");
           (penalty, lambda) <- Seq(NoRegularization -> 0.0, L1Regularization -> 0.05,
                                    L2Regularization -> 0.5)) {
        val fit = new SketchLinearRegression().setIterations(5).setStepsize(0.5)
          .setCompressionType(codecName).setRegularizationPenalty(penalty)
          .setRegularizationConstant(lambda).fitRDD(data)
        val ref = denseDownlinkFit(data, 5, 0.5, graft.sketch.SketchCodec.forName(codecName),
          penalty, lambda)
        val tag = s"$name rows, $codecName codec, $penalty"
        assert(bitsOf(fit.weights).sameElements(bitsOf(ref.weights)), s"$tag: weights differ")
        assert(java.lang.Double.doubleToRawLongBits(fit.intercept) ==
          java.lang.Double.doubleToRawLongBits(ref.intercept), s"$tag: intercept differs")
        assert(bitsOf(fit.lossHistory).sameElements(bitsOf(ref.lossHistory)),
          s"$tag: loss history ${fit.lossHistory.toSeq} vs ${ref.lossHistory.toSeq}")
        if (penalty == L1Regularization) // the soft threshold's exact (and signed) zeros
          assert(touched.exists(fit.weights(_) == 0.0), s"$tag: no weight was shrunk to zero")
      }
      data.unpersist()
    }
  }

  test("the weight frame round-trips −0.0, NaN and an all-zero model bit for bit") {
    def roundTrip(w: Array[Double]): Array[Double] =
      WeightFrame.gather(WeightFrame.encode(w), Array.range(0, w.length)).take(w.length)
    val w = new Array[Double](40000)
    // one- to three-byte key gaps, signed zeros, NaNs with payloads
    Seq(0 -> -0.0, 1 -> Double.NaN, 2 -> 1.5, 130 -> -0.0, 131 -> -2.25,
        20000 -> java.lang.Double.longBitsToDouble(0x7ff8000000000123L),
        20001 -> java.lang.Double.longBitsToDouble(0xfff0000000000001L),
        30000 -> Double.NegativeInfinity, 39999 -> Double.MinPositiveValue)
      .foreach { case (i, v) => w(i) = v }
    val frame = WeightFrame.encode(w)
    assert(bitsOf(roundTrip(w)).sameElements(bitsOf(w)))
    // +0.0 is the only value left out
    assert(frame.length == 4 + 9 * 5 + 10 + 11 + 10 + 10,
      s"frame of 9 entries is ${frame.length} B")
    // a block's keys read the same bits, absent keys +0.0
    val keys = Array(0, 1, 5, 130, 20001, 39998, 39999)
    assert(bitsOf(WeightFrame.gather(frame, keys).take(keys.length))
      .sameElements(bitsOf(keys.map(w))))
    // the all-zero model is the header alone and reads back as +0.0,
    // even on a thread whose last gather held nonzeros
    val zeros = new Array[Double](1 << 20)
    assert(WeightFrame.encode(zeros).length == 4)
    assert(roundTrip(zeros).forall(java.lang.Double.doubleToRawLongBits(_) == 0L))
    assert(WeightFrame.encode(Array.emptyDoubleArray).length == 4)
  }

  test("at dim 2^24 the weight frame is exactly a varint gap and 8 B per nonzero") {
    val dim = 1 << 24
    val rnd = new scala.util.Random(21)
    val keys = (Array(0, dim - 1) ++ Array.fill(400)(rnd.nextInt(dim))).distinct.sorted
    val w = new Array[Double](dim)
    keys.foreach(k => w(k) = rnd.nextGaussian())
    val frame = WeightFrame.encode(w)
    def varIntBytes(v: Int) = if (v < (1 << 7)) 1 else if (v < (1 << 14)) 2 else if (v < (1 << 21)) 3 else 4
    val exact = 4 + keys.indices.map(i => varIntBytes(keys(i) - (if (i == 0) 0 else keys(i - 1))) + 8).sum
    assert(frame.length == exact, s"frame ${frame.length} B, expected $exact B")
    assert(frame.length <= 13 * keys.length + 4, s"frame ${frame.length} B for ${keys.length} nonzeros")
    assert(bitsOf(WeightFrame.gather(frame, keys).take(keys.length)).sameElements(bitsOf(keys.map(w))))
  }

  test("a fit of k iterations runs k jobs: one aggregation per iteration") {
    val (data, _, _) = planted(400, 6, seed = 3)
    for (k <- Seq(1, 4)) {
      val jobs = jobsLaunchedBy {
        new SketchLinearRegression().setIterations(k).setStepsize(0.1)
          .setCompressionType("Sketch").fitRDD(data)
      }
      assert(jobs == k, s"$k iterations ran $jobs jobs")
    }
  }

  test("a throwing iteration still releases the block cache") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (data, _, _) = planted(200, 4, seed = 8)
    val err = intercept[org.apache.spark.SparkException] {
      new ThrowingRegression().setIterations(5).setStepsize(0.1).fitRDD(data)
    }
    assert(err.getMessage.contains(ThrowingLoss.Message), err.getMessage)
    assert(sc.getPersistentRDDs.keySet == before,
      s"leaked cached RDDs: ${sc.getPersistentRDDs.keySet -- before}")
  }

  test("partitions without rows add nothing: more partitions than rows fit like two") {
    val rows = Seq(
      (1.0, Vectors.dense(2.0, 0.5, -1.0)), (2.0, Vectors.dense(4.0, -0.5, 0.0)),
      (0.5, Vectors.sparse(3, Array(1), Array(3.0))), (-1.0, Vectors.dense(1.0, 1.0, 1.0)),
      (3.0, Vectors.sparse(3, Array(0, 2), Array(-2.0, 0.25))))
    def fit(parts: Int) = new SketchLinearRegression().setIterations(6).setStepsize(0.1)
      .setCompressionType("None").fitRDD(spark.sparkContext.parallelize(rows, parts))
    val (two, many) = (fit(2), fit(12))
    two.weights.indices.foreach { i =>
      assert(math.abs(two.weights(i) - many.weights(i)) < 1e-9,
        s"weight $i: ${two.weights(i)} vs ${many.weights(i)}")
    }
    assert(math.abs(two.intercept - many.intercept) < 1e-9)
    two.lossHistory.indices.foreach { t =>
      assert(math.abs(two.lossHistory(t) - many.lossHistory(t)) < 1e-9)
    }
  }

  test("an empty dataset fails with a clear error") {
    val sc = spark.sparkContext
    for (empty <- Seq(sc.emptyRDD[(Double, org.apache.spark.ml.linalg.Vector)],
                      sc.parallelize(Seq.empty[(Double, org.apache.spark.ml.linalg.Vector)], 3))) {
      val err = intercept[IllegalArgumentException] {
        new SketchLinearRegression().setIterations(2).fitRDD(empty)
      }
      assert(err.getMessage.contains("empty dataset"), err.getMessage)
    }
  }
}

/** Squared loss that throws once the margin leaves zero — i.e. in the
  * second iteration of a fit from w = 0, b = 0. */
object ThrowingLoss extends PointLoss {
  val Message = "loss failed mid-fit"
  def scaleAndLoss(z: Double, y: Double): (Double, Double) =
    if (z != 0.0) throw new IllegalStateException(Message)
    else SquaredPointLoss.scaleAndLoss(z, y)
}

class ThrowingRegression extends SketchLinearRegression {
  override protected def pointLoss: PointLoss = ThrowingLoss
}
