package graft.sketch

/** Stable LSD radix argsort over unsigned 64-bit keys — the one sort
  * behind [[SketchCodec]]'s quantile bins (keys from [[doubleKey]])
  * and `graft.ml.RowBlock`'s column keys (non-negative ints widened to
  * long). O(n) per digit pass with 11-bit digits; a pass whose digit is
  * the same for every key is skipped, so int keys below 2^22 take two
  * passes. Scratch is 24 B per key (the keys and the permutation,
  * double-buffered). */
object RadixArgsort {
  private val Bits = 11
  private val Radix = 1 << Bits
  private val Passes = (64 + Bits - 1) / Bits

  /** Order-preserving key: unsigned order of the keys is the order of
    * the values, −0.0 before 0.0 as in `java.util.Arrays.sort`. */
  @inline def doubleKey(v: Double): Long = {
    val bits = java.lang.Double.doubleToRawLongBits(v)
    bits ^ ((bits >> 63) | Long.MinValue)
  }

  /** Inverse of [[doubleKey]]. */
  @inline def keyDouble(k: Long): Double =
    java.lang.Double.longBitsToDouble(if (k < 0) k ^ Long.MinValue else ~k)

  /** Sorts `keys(0 until n)` ascending as unsigned longs, in place, and
    * returns `perm` with `perm(p)` the original position of the key now
    * at `p`; equal keys keep their original order. */
  def argsort(keys: Array[Long], n: Int): Array[Int] = {
    val counts = new Array[Int](Passes * Radix)
    var i = 0
    while (i < n) {
      val k = keys(i)
      var d = 0
      while (d < Passes) { counts(d * Radix + ((k >>> (d * Bits)).toInt & (Radix - 1))) += 1; d += 1 }
      i += 1
    }
    var perm = new Array[Int](n)
    i = 0
    while (i < n) { perm(i) = i; i += 1 }
    // a digit is constant across the keys iff any one key's bucket holds all n
    val any = if (n > 0) keys(0) else 0L
    var src = keys
    var dst: Array[Long] = null
    var permDst: Array[Int] = null
    var d = 0
    while (d < Passes) {
      val base = d * Radix
      if (counts(base + ((any >>> (d * Bits)).toInt & (Radix - 1))) != n) {
        // bucket starts, then a stable scatter of (key, perm) pairs
        var sum = 0
        var b = 0
        while (b < Radix) { val c = counts(base + b); counts(base + b) = sum; sum += c; b += 1 }
        if (dst == null) { dst = new Array[Long](n); permDst = new Array[Int](n) }
        val shift = d * Bits
        i = 0
        while (i < n) {
          val k = src(i)
          val at = base + ((k >>> shift).toInt & (Radix - 1))
          val p = counts(at)
          counts(at) = p + 1
          dst(p) = k; permDst(p) = perm(i)
          i += 1
        }
        val ks = src; src = dst; dst = ks
        val ps = perm; perm = permDst; permDst = ps
      }
      d += 1
    }
    if (src ne keys) System.arraycopy(src, 0, keys, 0, n)
    perm
  }
}
