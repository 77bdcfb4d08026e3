package graft.ml

import java.nio.ByteBuffer

/** The weight downlink of one SGD iteration: the model's entries whose
  * bits are not +0.0, as one exactly sized frame
  *
  *   [nnz: 4 B int][(key gap: unsigned LEB128 varint, value: raw 8 B double) × nnz]
  *
  * with keys strictly ascending, each gap taken from the previous key
  * (from 0 for the first). Only +0.0 is left out, so −0.0 and NaN
  * travel and a reader that fills +0.0 for every absent key sees the
  * weights bit for bit. An entry costs 1 + 8 B for a gap below 2^7 and
  * at most 5 + 8 B; an all-zero model is the 4 B header alone.
  *
  * The frame is always the whole model, so a reader needs no earlier
  * frame: there is no executor-side weight copy to version or repair.
  * It stays small because weights start at zero and, for finite η and
  * λ, no penalty moves a weight whose gradient is zero in every
  * iteration, so nnz(w) is at most the number of distinct features in
  * the training set, whatever `dim` is. */
object WeightFrame {

  private val Header = 4

  @inline private def varIntBytes(v: Int): Int =
    (31 - Integer.numberOfLeadingZeros(v | 1)) / 7 + 1

  /** Positions scanned per compaction. */
  private val Chunk = 1 << 14

  /** Writes the positions of the entries of `w` in [from, from + Chunk)
    * whose bits are not +0.0 to the front of `at` and returns their
    * count. Branch-free: a model's zeros and nonzeros interleave with
    * no pattern a branch predictor could learn. */
  private def nonzerosIn(w: Array[Double], from: Int, at: Array[Int]): Int = {
    val to = math.min(from + Chunk, w.length)
    var m = 0
    var i = from
    while (i < to) {
      val bits = java.lang.Double.doubleToRawLongBits(w(i))
      at(m) = i
      m += ((bits | -bits) >>> 63).toInt
      i += 1
    }
    m
  }

  /** The frame of `w`: one pass over `w` sizes the frame, a second
    * writes it. */
  def encode(w: Array[Double]): Array[Byte] = {
    val at = new Array[Int](Chunk)
    var nnz = 0
    var size = Header.toLong
    var prev = 0
    var from = 0
    while (from < w.length) {
      val m = nonzerosIn(w, from, at)
      var j = 0
      while (j < m) { size += varIntBytes(at(j) - prev) + 8; prev = at(j); j += 1 }
      nnz += m
      from += Chunk
    }
    require(size <= Int.MaxValue - 8, s"a model with $nnz nonzeros needs a $size B frame")
    val out = new Array[Byte](size.toInt)
    val buf = ByteBuffer.wrap(out)
    buf.putInt(0, nnz)
    var pos = Header
    prev = 0
    from = 0
    while (from < w.length) {
      val m = nonzerosIn(w, from, at)
      var j = 0
      while (j < m) {
        val i = at(j)
        var gap = i - prev
        while ((gap & ~0x7f) != 0) { out(pos) = ((gap & 0x7f) | 0x80).toByte; gap >>>= 7; pos += 1 }
        out(pos) = gap.toByte
        buf.putDouble(pos + 1, w(i))
        pos += 9
        prev = i
        j += 1
      }
      from += Chunk
    }
    out
  }

  private val scratch = ThreadLocal.withInitial[Array[Double]](() => Array.emptyDoubleArray)

  /** The weights of `keys` (strictly ascending) read off `frame`:
    * element s is the weight of `keys(s)`, +0.0 where the frame has no
    * entry. One merge of the two ascending runs, O(frame nnz + keys).
    *
    * The array is the calling thread's grow-only scratch and is valid
    * until the thread's next call: it may be longer than `keys`, and a
    * thread keeps 8 B × the most keys it has gathered until it ends. */
  def gather(frame: Array[Byte], keys: Array[Int]): Array[Double] = {
    val n = keys.length
    var out = scratch.get()
    if (out.length < n) { out = new Array[Double](n); scratch.set(out) }
    else java.util.Arrays.fill(out, 0, n, 0.0)
    val buf = ByteBuffer.wrap(frame)
    val nnz = buf.getInt(0)
    var at = Header
    var key = 0
    var s = 0
    var e = 0
    while (e < nnz && s < n) {
      var b = frame(at)
      var gap = b & 0x7f
      var shift = 7
      at += 1
      while (b < 0) {
        b = frame(at)
        gap |= (b & 0x7f) << shift
        shift += 7
        at += 1
      }
      key += gap
      while (s < n && keys(s) < key) s += 1
      if (s < n && keys(s) == key) { out(s) = buf.getDouble(at); s += 1 }
      at += 8
      e += 1
    }
    out
  }
}
