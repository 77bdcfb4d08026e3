package graft.sketch

import java.nio.ByteBuffer

/** Codec for a dense gradient vector crossing a communication
  * boundary (shuffle / task-result serialization in treeAggregate).
  * Two implementations mirror the reference's
  * `--compressionType None | Sketch` switch
  * (`/root/reference/.../SketchConfig.scala:13`,
  * `SketchGradientDescent.scala:343`).
  */
trait GradientCodec extends Serializable {
  def encode(dense: Array[Double]): Array[Byte]
  def decode(bytes: Array[Byte]): Array[Double]

  /** Encode an (index → sum) accumulation WITHOUT materializing a
    * dim-length array — the task-memory bound for high-dim sparse
    * SGD (the reference's `SparseDoubleGradient` wire path,
    * `SketchGradientDescent.scala:215`). The first `nnz` entries of
    * `keys` must be strictly ascending (checked); the arrays may be
    * longer. Contract: a sparse and a dense encoding of the same
    * logical gradient decode to the SAME values (value-identity).
    * Byte-identity is NOT promised at this level — [[SketchCodec]]
    * additionally guarantees it (its eps-filter canonicalizes the
    * frame), while [[IdentityCodec]] deliberately emits a distinct
    * sparse frame (exact zeros kept) to stay lossless. */
  def encodeSparse(dim: Int, nnz: Int, keys: Array[Int],
                   vals: Array[Double]): Array[Byte]

  /** Decode to a sparse view (keys/vals aligned, keys ascending)
    * without materializing a dim-length array. */
  def decodeSparse(bytes: Array[Byte]): SparseGrad

  def name: String
}

/** Big-endian cursor over one codec frame. Every read is bounds-checked
  * first, so a truncated or corrupt frame fails with an
  * IllegalArgumentException naming the codec and the byte offset, and
  * no length read from the frame allocates more than the frame holds. */
private[sketch] final class FrameReader(codec: String, frame: Array[Byte]) {
  private val in = ByteBuffer.wrap(frame)

  def corrupt(at: Int, what: String): Nothing = throw new IllegalArgumentException(
    s"corrupt $codec frame at byte $at of ${frame.length}: $what")

  def position: Int = in.position()
  def remaining: Int = in.remaining()

  private def need(bytes: Long, what: String): Unit =
    if (bytes > in.remaining()) corrupt(in.position(), s"$what needs $bytes bytes, ${in.remaining()} left")

  def byte(what: String): Byte = { need(1, what); in.get() }

  /** An int field that must lie in [lo, hi]. */
  def int(what: String, lo: Long, hi: Long): Int = {
    need(4, what)
    val at = in.position()
    val v = in.getInt()
    if (v < lo || v > hi) corrupt(at, s"$what $v outside [$lo, $hi]")
    v
  }

  def double(): Double = { need(8, "double"); in.getDouble() }

  def doubles(n: Int, what: String): Array[Double] = {
    need(8L * n, what)
    val out = new Array[Double](n)
    in.asDoubleBuffer().get(out)
    in.position(in.position() + 8 * n)
    out
  }

  def bytes(out: Array[Byte], what: String): Unit = { need(out.length, what); in.get(out) }

  /** An unsigned LEB128 int: at most 5 bytes. */
  def varInt(): Int = {
    val at = in.position()
    var v = 0
    var shift = 0
    var b = 0x80
    while ((b & 0x80) != 0) {
      if (shift > 28) corrupt(at, "varint longer than 5 bytes")
      if (!in.hasRemaining) corrupt(in.position(), "varint cut short")
      b = in.get() & 0xff
      v |= (b & 0x7f) << shift
      shift += 7
    }
    v
  }
}

/** Sparse decoded gradient: `keys(i)` holds value `vals(i)`; keys
  * strictly ascending, `dim` is the logical length. */
final case class SparseGrad(dim: Int, keys: Array[Int], vals: Array[Double])

object GradientCodec {
  /** The `encodeSparse` precondition, raised as an
    * IllegalArgumentException naming the first out-of-order key. */
  private[sketch] def requireAscending(keys: Array[Int], nnz: Int): Unit = {
    var i = 1
    while (i < nnz) {
      if (keys(i) <= keys(i - 1)) throw new IllegalArgumentException(
        s"encodeSparse needs strictly ascending keys: ${keys(i - 1)} then ${keys(i)} at $i")
      i += 1
    }
  }
}

/** Lossless raw-doubles codec — the `compressionType=None` /
  * `FlinkGradientDescent` baseline path
  * (`/root/reference/.../FlinkGradientDescent.scala:216-234`). */
object IdentityCodec extends GradientCodec {
  val name = "None"
  // dense frame: [dim][double × dim]; sparse frame:
  // [-1][dim][nnz][(key, double) × nnz] — a negative first int
  // distinguishes it from the dense frame's non-negative dim. All
  // big-endian, written and read through a ByteBuffer in bulk.

  def encode(dense: Array[Double]): Array[Byte] = {
    val out = ByteBuffer.allocate(4 + 8 * dense.length)
    out.putInt(dense.length).asDoubleBuffer().put(dense)
    out.array()
  }

  def decode(bytes: Array[Byte]): Array[Double] = {
    val in = new FrameReader("IdentityCodec", bytes)
    val first = in.int("dim", -1, Int.MaxValue)
    if (first >= 0) in.doubles(first, "dense values")
    else { // sparse frame (encodeSparse): densify on demand
      val sg = readSparseBody(in)
      val arr = new Array[Double](sg.dim)
      var i = 0
      while (i < sg.keys.length) { arr(sg.keys(i)) = sg.vals(i); i += 1 }
      arr
    }
  }

  def encodeSparse(dim: Int, nnz: Int, keys: Array[Int],
                   vals: Array[Double]): Array[Byte] = {
    GradientCodec.requireAscending(keys, nnz)
    val out = ByteBuffer.allocate(12 * nnz + 12)
    out.putInt(-1).putInt(dim).putInt(nnz)
    var i = 0
    while (i < nnz) { out.putInt(keys(i)).putDouble(vals(i)); i += 1 }
    out.array()
  }

  def decodeSparse(bytes: Array[Byte]): SparseGrad = {
    val in = new FrameReader("IdentityCodec", bytes)
    val first = in.int("dim", -1, Int.MaxValue)
    if (first < 0) readSparseBody(in)
    else { // dense frame: keep only the nonzeros
      val all = in.doubles(first, "dense values")
      var nnz = 0
      var i = 0
      while (i < all.length) { if (all(i) != 0.0) nnz += 1; i += 1 }
      val keys = new Array[Int](nnz)
      val vals = new Array[Double](nnz)
      var k = 0
      i = 0
      while (i < all.length) {
        if (all(i) != 0.0) { keys(k) = i; vals(k) = all(i); k += 1 }
        i += 1
      }
      SparseGrad(first, keys, vals)
    }
  }

  private def readSparseBody(in: FrameReader): SparseGrad = {
    val dim = in.int("dim", 0, Int.MaxValue)
    val nnz = in.int("nnz", 0, math.min(dim, in.remaining / 12))
    val keys = new Array[Int](nnz)
    val vals = new Array[Double](nnz)
    var i = 0
    while (i < nnz) {
      keys(i) = in.int("key", if (i == 0) 0 else keys(i - 1) + 1L, dim - 1L)
      vals(i) = in.double()
      i += 1
    }
    SparseGrad(dim, keys, vals)
  }
}

/** SketchML-style lossy gradient compression (§2.4 of SURVEY.md;
  * semantics from the public SIGMOD'18 paper + the reference call
  * site `/root/reference/.../SketchGradientDescent.scala:340-348`):
  *
  *  1. nonzeros (|v| > eps, countNNZ parity with
  *     `SketchGradientDescent.scala:356-362`) are quantile-quantized
  *     into `binNum` bins; each bin's representative is the mean of
  *     its values — bounded relative error, 1 byte per value.
  *  2. bins are split into `groupNum` contiguous ranges; each
  *     group's (key → bin-offset) map goes into a [[MinMaxSketch]]
  *     (`rowNum` rows, `colRatio × groupNnz` cols).
  *  3. keys are delta + varint encoded per group.
  *  4. an all-zero gradient short-circuits to a 5-byte ZeroGradient
  *     marker (`SketchGradientDescent.scala:203,213,261-271`).
  *
  * The encode kernel sorts once: one [[RadixArgsort]] of the values'
  * order-preserving keys, O(nnz), in the thread's grow-only
  * [[RadixArgsort.Scratch]], the bins too, so `encodeNonzeros`
  * allocates only the frame, the sketch tables and per-bin and
  * per-group arrays. The
  * `binNum − 1` quantile edges are
  * read off the sorted values by position, and one monotone sweep of
  * the sorted order gives every value its bin — the number of edges
  * below it, the answer a binary search over the edges would give.
  * The bin representatives are then summed in key order, as the frame
  * has always been defined, so the frame is byte-for-byte the one a
  * comparison sort plus a per-value binary search writes. Frames are
  * written into one exactly sized buffer and read through a
  * bounds-checked [[FrameReader]].
  *
  * decode() returns the dense approximation (`toAuto.toDense` parity,
  * `SketchGradientDescent.scala:244,249,276`). Like the reference's
  * Reduce path, partial sums get *re*-compressed at each tree level
  * (`SketchGradientDescent.scala:274`), so lossy error compounds with
  * tree depth — tolerance-tested, never oracle-compared.
  */
final class SketchCodec(
    val binNum: Int = SketchCodec.DefaultBinNum,
    val groupNum: Int = SketchCodec.DefaultGroupNum,
    val rowNum: Int = MinMaxSketch.DefaultRowNum,
    val colRatio: Double = SketchCodec.DefaultColRatio,
    val eps: Double = 1e-10
) extends GradientCodec {
  require(binNum % groupNum == 0 && binNum / groupNum <= 256,
    s"binNum/groupNum must be <=256 byte-cell offsets, got $binNum/$groupNum")
  val name = "Sketch"
  private val groupBins = binNum / groupNum

  def encode(dense: Array[Double]): Array[Byte] = {
    val dim = dense.length
    var nnz = 0
    var i = 0
    while (i < dim) { if (math.abs(dense(i)) > eps) nnz += 1; i += 1 }
    if (nnz == 0) return zeroFrame(dim)
    val keys = new Array[Int](nnz)
    val vals = new Array[Double](nnz)
    var k = 0
    i = 0
    while (i < dim) {
      if (math.abs(dense(i)) > eps) { keys(k) = i; vals(k) = dense(i); k += 1 }
      i += 1
    }
    encodeNonzeros(dim, nnz, keys, vals)
  }

  /** Same frame from a sparse accumulation — the keys arrive in the
    * dense scan's ascending order and the eps rule is [[encode]]'s,
    * so the bytes (and thus the lossy decode) are identical for the
    * same logical gradient. */
  def encodeSparse(dim: Int, nnz0: Int, keys0: Array[Int],
                   vals0: Array[Double]): Array[Byte] = {
    GradientCodec.requireAscending(keys0, nnz0)
    var nnz = 0
    var i = 0
    while (i < nnz0) { if (math.abs(vals0(i)) > eps) nnz += 1; i += 1 }
    if (nnz == 0) return zeroFrame(dim)
    if (nnz == nnz0) return encodeNonzeros(dim, nnz, keys0, vals0)
    val keys = new Array[Int](nnz)
    val vals = new Array[Double](nnz)
    var k = 0
    i = 0
    while (i < nnz0) {
      if (math.abs(vals0(i)) > eps) { keys(k) = keys0(i); vals(k) = vals0(i); k += 1 }
      i += 1
    }
    encodeNonzeros(dim, nnz, keys, vals)
  }

  private def zeroFrame(dim: Int): Array[Byte] =
    ByteBuffer.allocate(5).put(0: Byte).putInt(dim).array()

  /** The frame writer: the first `nnz` ≥ 1 entries of `keys` are
    * ascending, `vals` aligned, all |v| > eps. */
  private def encodeNonzeros(dim: Int, nnz: Int, keys: Array[Int],
                             vals: Array[Double]): Array[Byte] = {
    // 1. one argsort of the values: edges by position, bins by a sweep;
    // the sort buffers and the bins are the thread's scratch
    val sc = RadixArgsort.scratchFor(nnz)
    val sorted = sc.keys
    var k = 0
    while (k < nnz) { sorted(k) = RadixArgsort.doubleKey(vals(k)); k += 1 }
    val perm = RadixArgsort.argsort(sc, nnz)
    val edges = new Array[Double](binNum - 1)
    var b = 0
    while (b < binNum - 1) {
      edges(b) = RadixArgsort.keyDouble(sorted(((b + 1).toLong * nnz / binNum).toInt.min(nnz - 1)))
      b += 1
    }
    // Bins stay in value-ascending order: a min-of-max collision then
    // lands on a *nearby* bin (quantile-adjacent value, small error).
    // A magnitude-descending re-index (shrink-toward-zero bias) was
    // measured strictly worse here — adjacent bins alternate sign and
    // collisions become sign flips (relL2 0.37 → 0.81 at 3×0.5).
    val bins = sc.ints
    b = 0
    var p = 0
    while (p < nnz) {
      val v = RadixArgsort.keyDouble(sorted(p))
      while (b < binNum - 1 && edges(b) < v) b += 1
      bins(perm(p)) = b
      p += 1
    }
    // representatives summed in key order: the frame's defined bytes;
    // the same pass sizes each group's delta-varint key run
    val repSum = new Array[Double](binNum)
    val repCnt = new Array[Long](binNum)
    val groupCnt = new Array[Int](groupNum)
    val groupPrev = new Array[Int](groupNum)
    val groupKeyBytes = new Array[Long](groupNum)
    k = 0
    while (k < nnz) {
      val bin = bins(k)
      repSum(bin) += vals(k); repCnt(bin) += 1
      val g = bin / groupBins
      groupCnt(g) += 1
      groupKeyBytes(g) += (31 - Integer.numberOfLeadingZeros((keys(k) - groupPrev(g)) | 1)) / 7 + 1
      groupPrev(g) = keys(k)
      k += 1
    }
    val groupCols = new Array[Int](groupNum)
    var size = 21L + 8L * binNum
    var g = 0
    while (g < groupNum) {
      groupCols(g) = math.max(8, math.ceil(groupCnt(g) * colRatio).toInt)
      size += 4 + (if (groupCnt(g) > 0) 4 + groupKeyBytes(g) + rowNum.toLong * groupCols(g) else 0)
      g += 1
    }
    // 2+3. per-group sketch + delta-varint keys
    val out = ByteBuffer.allocate(size.toInt)
    out.put(1: Byte).putInt(dim).putInt(nnz)
    out.putInt(binNum).putInt(groupNum).putInt(rowNum)
    b = 0
    while (b < binNum) {
      out.putDouble(if (repCnt(b) > 0) repSum(b) / repCnt(b) else 0.0)
      b += 1
    }
    g = 0
    while (g < groupNum) {
      val lo = g * groupBins
      val hi = lo + groupBins
      out.putInt(groupCnt(g))
      if (groupCnt(g) > 0) {
        out.putInt(groupCols(g))
        val sk = new MinMaxSketch(rowNum, groupCols(g))
        var prev = 0
        k = 0
        while (k < nnz) {
          val bin = bins(k)
          if (bin >= lo && bin < hi) {
            sk.insert(keys(k), bin - lo)
            writeVarInt(out, keys(k) - prev)
            prev = keys(k)
          }
          k += 1
        }
        out.put(sk.table)
      }
      g += 1
    }
    out.array()
  }

  def decode(bytes: Array[Byte]): Array[Double] = {
    val f = parse(bytes)
    val dense = new Array[Double](f.dim)
    var k = 0
    var g = 0
    while (g < f.runEnds.length) {
      while (k < f.runEnds(g)) { val key = f.runKeys(k); dense(key) = f.value(g, key); k += 1 }
      g += 1
    }
    dense
  }

  /** [[decode]] without the dim-length materialization: the frame
    * already carries explicit keys per group, so the sparse view is
    * a read of each group's ascending key run, then one O(nnz·groupNum)
    * merge pass over the runs that looks each value up in its group's
    * sketch — O(nnz) memory at every tree-merge level. */
  def decodeSparse(bytes: Array[Byte]): SparseGrad = {
    val f = parse(bytes)
    val gn = f.runEnds.length
    val nnz = f.runKeys.length
    // a key sits in exactly one group: repeatedly take the smallest run head
    val heads = new Array[Int](gn)
    var g = 1
    while (g < gn) { heads(g) = f.runEnds(g - 1); g += 1 }
    val outKeys = new Array[Int](nnz)
    val outVals = new Array[Double](nnz)
    var w = 0
    while (w < nnz) {
      var best = -1
      g = 0
      while (g < gn) {
        if (heads(g) < f.runEnds(g) &&
            (best < 0 || f.runKeys(heads(g)) < f.runKeys(heads(best)))) best = g
        g += 1
      }
      val key = f.runKeys(heads(best))
      outKeys(w) = key
      outVals(w) = f.value(best, key)
      heads(best) += 1
      w += 1
    }
    SparseGrad(f.dim, outKeys, outVals)
  }

  /** One frame's groups: group g's keys are `runKeys` from
    * `runEnds(g - 1)` (0 for g = 0) to `runEnds(g)`, ascending, and its
    * values are looked up in `sketches(g)`. A zero frame has no
    * groups. */
  private final class Parsed(val dim: Int, groupBins: Int, reps: Array[Double],
      val runKeys: Array[Int], val runEnds: Array[Int], sketches: Array[MinMaxSketch]) {
    def value(g: Int, key: Int): Double =
      reps(g * groupBins + math.min(sketches(g).query(key), groupBins - 1))
  }

  private def parse(bytes: Array[Byte]): Parsed = {
    val in = new FrameReader("SketchCodec", bytes)
    in.byte("marker") match {
      case 0 =>
        new Parsed(in.int("dim", 0, Int.MaxValue), 1, Array.emptyDoubleArray,
          Array.emptyIntArray, Array.emptyIntArray, Array.empty)
      case 1 =>
        val dim = in.int("dim", 1, Int.MaxValue)
        // every key takes at least one varint byte
        val nnz = in.int("nnz", 1, math.min(dim, in.remaining))
        val bn = in.int("binNum", 1, Int.MaxValue)
        val gn = in.int("groupNum", 1, bn)
        val gb = bn / gn
        if (bn % gn != 0 || gb > 256)
          in.corrupt(in.position - 4, s"binNum/groupNum $bn/$gn is not a whole number ≤ 256")
        val rn = in.int("rowNum", 1, Int.MaxValue)
        val reps = in.doubles(bn, "bin representatives")
        val runKeys = new Array[Int](nnz)
        val runEnds = new Array[Int](gn)
        val sketches = new Array[MinMaxSketch](gn)
        var w = 0
        var g = 0
        while (g < gn) {
          val cnt = in.int("group key count", 0, nnz - w)
          if (cnt > 0) {
            val cols = in.int("sketch cols", 1, in.remaining / rn)
            var prev = 0
            var k = 0
            while (k < cnt) {
              val at = in.position
              val key = prev + in.varInt()
              if (key < 0 || key >= dim || (k > 0 && key <= prev))
                in.corrupt(at, s"key $key after $prev is out of order or outside [0, $dim)")
              runKeys(w) = key; prev = key; w += 1; k += 1
            }
            sketches(g) = new MinMaxSketch(rn, cols)
            in.bytes(sketches(g).table, "sketch table")
          }
          runEnds(g) = w
          g += 1
        }
        if (w != nnz) in.corrupt(in.position, s"groups hold $w keys, header says $nnz")
        new Parsed(dim, gb, reps, runKeys, runEnds, sketches)
      case m => in.corrupt(0, s"marker $m is neither 0 nor 1")
    }
  }

  private def writeVarInt(out: ByteBuffer, value: Int): Unit = {
    var v = value
    while ((v & ~0x7f) != 0) { out.put(((v & 0x7f) | 0x80).toByte); v >>>= 7 }
    out.put(v.toByte)
  }
}

object SketchCodec {
  /** binNum and groupNum mirror the reference call site
    * (`SketchGradientDescent.scala:340-348`, `SketchConfig.scala:15`:
    * 256 bins, 2 groups). rowNum/colRatio are our fidelity knobs:
    * 3 sketch rows and 0.5 cols/key keep the min-of-max collision
    * bias small while still compressing ~4× vs raw sparse doubles. */
  val DefaultBinNum = 256
  val DefaultGroupNum = 2
  val DefaultColRatio = 0.5

  def forName(compressionType: String): GradientCodec = compressionType match {
    case "Sketch" => new SketchCodec()
    case _        => IdentityCodec
  }
}
