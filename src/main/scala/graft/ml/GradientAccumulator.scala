package graft.ml

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}

import graft.sketch.GradientCodec

/** treeAggregate buffer for one SGD step: gradient sum + intercept-
  * gradient sum + row count + loss sum (the loss pass of
  * `SketchGradientDescent.scala:371-383` fused into the same scan).
  *
  * INPUT is the iteration's [[WeightFrame]] and a whole [[RowBlock]]
  * per call: the cached partition's labels, CSR rows and sorted
  * distinct keys. [[add]] reads the weights of the block's keys off
  * the frame into a block-local array (one merge of two ascending
  * runs), so no executor holds a `dim`-length weight array; the margin
  * loop reads `wl(slots(j))`, the same double `w(cols(j))` is, in the
  * same order. It then walks the rows in order, and each row's margin
  * → pointwise (scale, loss) → axpy goes into one of two targets:
  *
  *  - a `dim`-length dense array, when dim ≤ [[GradientAccumulator.DenseDim]]
  *    (allocation and axpy beat anything sparse) or the block has more
  *    than dim / [[GradientAccumulator.DensifyDenom]] keys;
  *  - otherwise an array over the block's keys, addressed by the
  *    block's per-nonzero slots — no hashing, and the result is
  *    already key-ascending.
  *
  * `dim` comes from the first block added or merged in; a buffer that
  * has seen neither (the zero value, an empty partition's partial)
  * reports -1 and ships no frame, so the first aggregation of a fit is
  * also its dimension probe.
  *
  * BUFFER SHAPE mirrors the reference's dense/sparse gradient split
  * (`SketchGradientDescent.scala:205-217` carries
  * `DenseDoubleGradient` for dense rows and `SparseDoubleGradient`
  * for sparse ones): the sparse state is a key-ascending
  * (`keys`, `vals`) pair, so a task over sparse rows at dim = 10⁷
  * holds O(partition keys) instead of an 80 MB dense buffer. Merging
  * into an empty buffer takes the other side's arrays over without a
  * copy; sparse ∪ sparse is a linear merge of the two sorted runs and
  * densifies once the union passes the same dim / DensifyDenom bound.
  * The arrays of a merged-in buffer may be shared afterwards, so
  * [[merge]] consumes its argument, and the state arrays are replaced,
  * never written, while sparse (the keys may be the cached block's).
  *
  * Every per-key sum is added in row order, as a row-at-a-time pass
  * over the same partition adds it, so a partial's codec frame does
  * not depend on the dense/sparse choice: [[graft.sketch.SketchCodec]]
  * frames are byte-identical either way (`SgdSpec`), and fitted weights
  * repeat up to treeAggregate's task-arrival float merge order.
  *
  * The gradient buffer is `@transient` and (de)serialized through
  * the configured [[GradientCodec]] — so when Spark ships partial
  * aggregates between executors / to the driver, the bytes on the
  * wire are the *compressed* gradient, exactly where the reference
  * compresses before its shuffle
  * (`/root/reference/.../SketchGradientDescent.scala:220-233`).
  * A sparse state goes out through `encodeSparse` (no dim-length
  * materialization) and comes back through `decodeSparse` in key
  * order, so every tree-merge level is O(nnz) too. Each merge
  * decodes → `plusBy` → next serialization re-encodes, reproducing
  * the Reduce path's re-compression of partial sums
  * (`SketchGradientDescent.scala:274`): lossy error compounds along
  * the aggregation tree, as in the reference.
  */
final class GradientAccumulator(val codec: GradientCodec,
                                val loss: PointLoss = SquaredPointLoss)
    extends Serializable {

  private var _dim: Int = -1
  /** The gradient's length, or -1 before any block was added or merged in. */
  def dim: Int = _dim

  private def takeDim(d: Int): Unit =
    if (_dim < 0) _dim = d
    else require(d == _dim, s"rows of sizes ${_dim} and $d in one dataset")

  // exactly one live representation: `dense` when non-null, else the
  // key-ascending sparse pair (empty for a zero gradient)
  @transient private var dense: Array[Double] = _
  @transient private var keys: Array[Int] = Array.emptyIntArray
  @transient private var vals: Array[Double] = Array.emptyDoubleArray

  var interceptGrad: Double = 0.0
  var count: Long = 0L
  var lossSum: Double = 0.0

  /** True while the buffer is still the sparse pair (spec hook). */
  private[ml] def isSparse: Boolean = dense == null

  /** The gradient as a dense array (densifies a sparse buffer —
    * driver-side use after the aggregate, where the model weights
    * are dense anyway). */
  def grad: Array[Double] = { densify(); dense }

  private def densify(): Unit =
    if (dense == null) {
      dense = new Array[Double](dim)
      var j = 0
      while (j < keys.length) { dense(keys(j)) = vals(j); j += 1 }
      keys = Array.emptyIntArray; vals = Array.emptyDoubleArray
    }

  /** Add a key-ascending sparse gradient (taken over when the buffer
    * is empty). */
  private def addSparse(bk: Array[Int], bv: Array[Double]): Unit =
    if (dense != null) {
      var j = 0
      while (j < bk.length) { dense(bk(j)) += bv(j); j += 1 }
    } else {
      if (keys.length == 0) { keys = bk; vals = bv }
      else {
        val ak = keys; val av = vals
        val mk = new Array[Int](ak.length + bk.length)
        val mv = new Array[Double](mk.length)
        var i = 0; var j = 0; var n = 0
        while (i < ak.length || j < bk.length) {
          if (j == bk.length || (i < ak.length && ak(i) < bk(j))) {
            mk(n) = ak(i); mv(n) = av(i); i += 1
          } else if (i == ak.length || bk(j) < ak(i)) {
            mk(n) = bk(j); mv(n) = bv(j); j += 1
          } else {
            mk(n) = ak(i); mv(n) = av(i) + bv(j); i += 1; j += 1
          }
          n += 1
        }
        keys = java.util.Arrays.copyOf(mk, n); vals = java.util.Arrays.copyOf(mv, n)
      }
      if (keys.length > dim / GradientAccumulator.DensifyDenom) densify()
    }

  /** Add every row of `blk` at the weights of `weights` (a
    * [[WeightFrame]]) and intercept b, in row order: margin →
    * pointwise (scale, loss) → axpy. For [[SquaredPointLoss]] this is
    * arithmetically identical to the fused residual form. */
  def add(weights: Array[Byte], b: Double, blk: RowBlock): GradientAccumulator = {
    takeDim(blk.dim)
    val wl = WeightFrame.gather(weights, blk.keys)
    val sparse = dense == null && dim > GradientAccumulator.DenseDim &&
      blk.keys.length <= dim / GradientAccumulator.DensifyDenom
    if (!sparse) densify()
    val sums = if (sparse) new Array[Double](blk.keys.length) else dense
    val at = if (sparse) blk.slots else blk.cols
    val slots = blk.slots; val xs = blk.values; val ends = blk.rowEnds
    var start = 0
    var r = 0
    while (r < blk.numRows) {
      val end = ends(r)
      var z = b
      var j = start
      while (j < end) { z += wl(slots(j)) * xs(j); j += 1 }
      val gl = loss.scaleAndLoss(z, blk.labels(r))
      val g = gl._1
      j = start
      while (j < end) { sums(at(j)) += g * xs(j); j += 1 }
      interceptGrad += g
      lossSum += gl._2
      start = end
      r += 1
    }
    if (sparse) addSparse(blk.keys, sums)
    count += blk.numRows
    this
  }

  /** Merge another partial (plusBy, `SketchGradientDescent.scala:244,262,267`),
    * consuming it. Sparse ∪ sparse stays sparse (until the density
    * bound); a dense side densifies the merge. */
  def merge(other: GradientAccumulator): GradientAccumulator = {
    if (other.dim >= 0) takeDim(other.dim)
    if (other.dense == null) addSparse(other.keys, other.vals)
    else if (dense == null && keys.length == 0) dense = other.dense
    else {
      densify()
      val og = other.dense
      var i = 0
      while (i < dim) { dense(i) += og(i); i += 1 }
    }
    interceptGrad += other.interceptGrad
    count += other.count
    lossSum += other.lossSum
    this
  }

  /** The codec frame this buffer ships as. */
  private[ml] def frame: Array[Byte] =
    if (dense != null) codec.encode(dense)
    else codec.encodeSparse(dim, keys.length, keys, vals)

  @throws[IOException]
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    if (dim < 0) out.writeInt(-1)
    else {
      val bytes = frame
      out.writeInt(bytes.length)
      out.write(bytes)
    }
  }

  @throws[IOException]
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    keys = Array.emptyIntArray; vals = Array.emptyDoubleArray
    val n = in.readInt() // -1: no block seen, no frame
    if (n >= 0) {
      val bytes = new Array[Byte](n)
      in.readFully(bytes)
      if (dim <= GradientAccumulator.DenseDim) dense = codec.decode(bytes)
      else {
        val sg = codec.decodeSparse(bytes)
        addSparse(sg.keys, sg.vals)
      }
    }
  }
}

object GradientAccumulator {
  /** Dims at or below this always use the dense buffer (≤ 512 KB —
    * allocation and axpy both beat any sparse form). */
  val DenseDim: Int = 1 << 16
  /** Densify once a partial's keys exceed dim / this (a sparse entry
    * ≈ 12 B vs 8 B/slot dense; past ~1/4 density sparse loses). */
  val DensifyDenom: Int = 4
}
