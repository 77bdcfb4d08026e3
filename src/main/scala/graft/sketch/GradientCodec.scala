package graft.sketch

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

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
  def encode(dense: Array[Double]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(8 * dense.length + 8)
    val out = new DataOutputStream(bos)
    out.writeInt(dense.length)
    var i = 0
    while (i < dense.length) { out.writeDouble(dense(i)); i += 1 }
    out.flush(); bos.toByteArray
  }
  def decode(bytes: Array[Byte]): Array[Double] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val first = in.readInt()
    if (first >= 0) {
      val dim = first
      val arr = new Array[Double](dim)
      var i = 0
      while (i < dim) { arr(i) = in.readDouble(); i += 1 }
      arr
    } else { // sparse frame (encodeSparse): densify on demand
      val sg = readSparseBody(in)
      val arr = new Array[Double](sg.dim)
      var i = 0
      while (i < sg.keys.length) { arr(sg.keys(i)) = sg.vals(i); i += 1 }
      arr
    }
  }
  // sparse frame: [-1][dim][nnz][(key,val)*] — a negative first int
  // distinguishes it from the dense frame's non-negative dim
  def encodeSparse(dim: Int, nnz: Int, keys: Array[Int],
                   vals: Array[Double]): Array[Byte] = {
    GradientCodec.requireAscending(keys, nnz)
    val bos = new ByteArrayOutputStream(12 * nnz + 12)
    val out = new DataOutputStream(bos)
    out.writeInt(-1); out.writeInt(dim); out.writeInt(nnz)
    var i = 0
    while (i < nnz) {
      out.writeInt(keys(i)); out.writeDouble(vals(i)); i += 1
    }
    out.flush(); bos.toByteArray
  }
  def decodeSparse(bytes: Array[Byte]): SparseGrad = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val first = in.readInt()
    if (first < 0) readSparseBody(in)
    else { // dense frame: stream it, keeping only nonzeros
      val dim = first
      val kb = Array.newBuilder[Int]
      val vb = Array.newBuilder[Double]
      var i = 0
      while (i < dim) {
        val v = in.readDouble()
        if (v != 0.0) { kb += i; vb += v }
        i += 1
      }
      SparseGrad(dim, kb.result(), vb.result())
    }
  }
  private def readSparseBody(in: DataInputStream): SparseGrad = {
    val dim = in.readInt(); val nnz = in.readInt()
    val keys = new Array[Int](nnz)
    val vals = new Array[Double](nnz)
    var i = 0
    while (i < nnz) { keys(i) = in.readInt(); vals(i) = in.readDouble(); i += 1 }
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
  *  4. an all-zero gradient short-circuits to a 2-byte ZeroGradient
  *     marker (`SketchGradientDescent.scala:203,213,261-271`).
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
    // collect nonzeros
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
    encodeNonzeros(dim, keys, vals)
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
    if (nnz == keys0.length && nnz == vals0.length)
      return encodeNonzeros(dim, keys0, vals0)
    val keys = new Array[Int](nnz)
    val vals = new Array[Double](nnz)
    var k = 0
    i = 0
    while (i < nnz0) {
      if (math.abs(vals0(i)) > eps) { keys(k) = keys0(i); vals(k) = vals0(i); k += 1 }
      i += 1
    }
    encodeNonzeros(dim, keys, vals)
  }

  private def zeroFrame(dim: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeByte(0); out.writeInt(dim); out.flush(); bos.toByteArray
  }

  /** The shared frame writer: `keys` ascending, `vals` aligned, all
    * |v| > eps, nnz ≥ 1. */
  private def encodeNonzeros(dim: Int, keys: Array[Int],
                             vals: Array[Double]): Array[Byte] = {
    val nnz = keys.length
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    var k = 0
    // 1. quantile bins from the sorted nonzero values
    val sorted = vals.clone(); java.util.Arrays.sort(sorted)
    val edges = new Array[Double](binNum - 1)
    var b = 0
    while (b < binNum - 1) { edges(b) = sorted(((b + 1).toLong * nnz / binNum).toInt.min(nnz - 1)); b += 1 }
    // Bins stay in value-ascending order: a min-of-max collision then
    // lands on a *nearby* bin (quantile-adjacent value, small error).
    // A magnitude-descending re-index (shrink-toward-zero bias) was
    // measured strictly worse here — adjacent bins alternate sign and
    // collisions become sign flips (relL2 0.37 → 0.81 at 3×0.5).
    val bins = new Array[Int](nnz)
    val repSum = new Array[Double](binNum)
    val repCnt = new Array[Long](binNum)
    k = 0
    while (k < nnz) {
      val bin = binOf(edges, vals(k))
      bins(k) = bin; repSum(bin) += vals(k); repCnt(bin) += 1
      k += 1
    }
    // 2+3. per-group sketch + delta-varint keys
    out.writeByte(1)
    out.writeInt(dim); out.writeInt(nnz)
    out.writeInt(binNum); out.writeInt(groupNum); out.writeInt(rowNum)
    b = 0
    while (b < binNum) {
      out.writeDouble(if (repCnt(b) > 0) repSum(b) / repCnt(b) else 0.0)
      b += 1
    }
    var g = 0
    while (g < groupNum) {
      val lo = g * groupBins
      val hi = lo + groupBins
      var cnt = 0
      k = 0
      while (k < nnz) { if (bins(k) >= lo && bins(k) < hi) cnt += 1; k += 1 }
      out.writeInt(cnt)
      if (cnt > 0) {
        val cols = math.max(8, math.ceil(cnt * colRatio).toInt)
        out.writeInt(cols)
        val sk = new MinMaxSketch(rowNum, cols)
        var prev = 0
        k = 0
        while (k < nnz) {
          if (bins(k) >= lo && bins(k) < hi) {
            sk.insert(keys(k), bins(k) - lo)
            writeVarInt(out, keys(k) - prev)
            prev = keys(k)
          }
          k += 1
        }
        out.write(sk.table)
      }
      g += 1
    }
    out.flush(); bos.toByteArray
  }

  def decode(bytes: Array[Byte]): Array[Double] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val marker = in.readByte()
    if (marker == 0) return new Array[Double](in.readInt())
    val dim = in.readInt(); val _nnz = in.readInt()
    val bn = in.readInt(); val gn = in.readInt(); val rn = in.readInt()
    val gb = bn / gn
    val reps = new Array[Double](bn)
    var b = 0
    while (b < bn) { reps(b) = in.readDouble(); b += 1 }
    val dense = new Array[Double](dim)
    var g = 0
    while (g < gn) {
      val cnt = in.readInt()
      if (cnt > 0) {
        val cols = in.readInt()
        val keys = new Array[Int](cnt)
        var prev = 0
        var k = 0
        while (k < cnt) { prev += readVarInt(in); keys(k) = prev; k += 1 }
        val sk = new MinMaxSketch(rn, cols)
        in.readFully(sk.table)
        val lo = g * gb
        k = 0
        while (k < cnt) {
          dense(keys(k)) = reps(lo + math.min(sk.query(keys(k)), gb - 1))
          k += 1
        }
      }
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
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val marker = in.readByte()
    if (marker == 0)
      return SparseGrad(in.readInt(), Array.empty, Array.empty)
    val dim = in.readInt(); val nnz = in.readInt()
    val bn = in.readInt(); val gn = in.readInt(); val rn = in.readInt()
    val gb = bn / gn
    val reps = new Array[Double](bn)
    var b = 0
    while (b < bn) { reps(b) = in.readDouble(); b += 1 }
    val runKeys = new Array[Int](nnz)
    val runEnds = new Array[Int](gn)
    val sketches = new Array[MinMaxSketch](gn)
    var w = 0
    var g = 0
    while (g < gn) {
      val cnt = in.readInt()
      if (cnt > 0) {
        val cols = in.readInt()
        var prev = 0
        var k = 0
        while (k < cnt) { prev += readVarInt(in); runKeys(w) = prev; w += 1; k += 1 }
        sketches(g) = new MinMaxSketch(rn, cols)
        in.readFully(sketches(g).table)
      }
      runEnds(g) = w
      g += 1
    }
    // a key sits in exactly one group: repeatedly take the smallest run head
    val heads = new Array[Int](gn)
    g = 1
    while (g < gn) { heads(g) = runEnds(g - 1); g += 1 }
    val outKeys = new Array[Int](nnz)
    val outVals = new Array[Double](nnz)
    w = 0
    while (w < nnz) {
      var best = -1
      g = 0
      while (g < gn) {
        if (heads(g) < runEnds(g) &&
            (best < 0 || runKeys(heads(g)) < runKeys(heads(best)))) best = g
        g += 1
      }
      val key = runKeys(heads(best))
      outKeys(w) = key
      outVals(w) = reps(best * gb + math.min(sketches(best).query(key), gb - 1))
      heads(best) += 1
      w += 1
    }
    SparseGrad(dim, outKeys, outVals)
  }

  /** index of the first edge > v (values ≤ edge fall in that bin). */
  private def binOf(edges: Array[Double], v: Double): Int = {
    var lo = 0
    var hi = edges.length // == binNum-1; answer in [0, binNum-1]
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (edges(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def writeVarInt(out: DataOutputStream, value: Int): Unit = {
    var v = value
    while ((v & ~0x7f) != 0) { out.writeByte((v & 0x7f) | 0x80); v >>>= 7 }
    out.writeByte(v)
  }

  private def readVarInt(in: DataInputStream): Int = {
    var v = 0
    var shift = 0
    var b = in.readByte() & 0xff
    while ((b & 0x80) != 0) { v |= (b & 0x7f) << shift; shift += 7; b = in.readByte() & 0xff }
    v | (b << shift)
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
