package graft.sketch

/** Stable LSD radix argsort over unsigned 64-bit keys — the one sort
  * behind [[SketchCodec]]'s quantile bins (keys from [[doubleKey]])
  * and `graft.ml.RowBlock`'s column keys (non-negative ints widened to
  * long). O(n) per digit pass with 11-bit digits; a pass whose digit is
  * the same for every key is skipped, so int keys below 2^22 take two
  * passes.
  *
  * Scratch is per thread and grow-only: [[Scratch]] holds the keys and
  * the permutation, double-buffered, plus one int per key for the
  * caller (24 + 4 B per key) and the 48 KB digit counts. A thread
  * keeps 28 B × the largest n it has sorted until it ends — on an
  * executor, 28 B × the largest partition nonzero count of a cached
  * `RowBlock` or task partial — so a steady stream of sorts allocates
  * nothing, and no per-sort array lands in G1's humongous regions. */
object RadixArgsort {
  private val Bits = 11
  private val Radix = 1 << Bits
  private val Passes = (64 + Bits - 1) / Bits

  /** One thread's sort buffers. Every array may be longer than the
    * current n; only the first n entries are meaningful. */
  final class Scratch private[RadixArgsort] {
    private[RadixArgsort] val counts = new Array[Int](Passes * Radix)
    /** Keys to sort: fill the first n, then [[argsort]] them. */
    var keys: Array[Long] = Array.emptyLongArray
    private[RadixArgsort] var keysAlt: Array[Long] = Array.emptyLongArray
    private[RadixArgsort] var perm: Array[Int] = Array.emptyIntArray
    private[RadixArgsort] var permAlt: Array[Int] = Array.emptyIntArray
    /** One int per key for the caller, e.g. each value's bin. */
    var ints: Array[Int] = Array.emptyIntArray

    private[RadixArgsort] def ensure(n: Int): this.type = {
      if (n > keys.length) {
        keys = new Array[Long](n); keysAlt = new Array[Long](n)
        perm = new Array[Int](n); permAlt = new Array[Int](n)
        ints = new Array[Int](n)
      }
      this
    }
  }

  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** The calling thread's scratch with room for n keys; growing it
    * drops the earlier contents. */
  def scratchFor(n: Int): Scratch = scratch.get().ensure(n)

  /** Order-preserving key: unsigned order of the keys is the order of
    * the values, −0.0 before 0.0 as in `java.util.Arrays.sort`. */
  @inline def doubleKey(v: Double): Long = {
    val bits = java.lang.Double.doubleToRawLongBits(v)
    bits ^ ((bits >> 63) | Long.MinValue)
  }

  /** Inverse of [[doubleKey]]. */
  @inline def keyDouble(k: Long): Double =
    java.lang.Double.longBitsToDouble(if (k < 0) k ^ Long.MinValue else ~k)

  /** Sorts `sc.keys(0 until n)` ascending as unsigned longs, in place,
    * and returns `perm` with `perm(p)` the original position of the key
    * now at `p`; equal keys keep their original order. `sc` must be
    * [[scratchFor]](n) of the calling thread; the returned array is
    * part of it, so it holds until the thread's next sort. */
  def argsort(sc: Scratch, n: Int): Array[Int] = {
    val keys = sc.keys
    val counts = sc.counts
    java.util.Arrays.fill(counts, 0)
    var i = 0
    while (i < n) {
      val k = keys(i)
      var d = 0
      while (d < Passes) { counts(d * Radix + ((k >>> (d * Bits)).toInt & (Radix - 1))) += 1; d += 1 }
      i += 1
    }
    var perm = sc.perm
    i = 0
    while (i < n) { perm(i) = i; i += 1 }
    // a digit is constant across the keys iff any one key's bucket holds all n
    val any = if (n > 0) keys(0) else 0L
    var src = keys
    var dst = sc.keysAlt
    var permDst = sc.permAlt
    var d = 0
    while (d < Passes) {
      val base = d * Radix
      if (counts(base + ((any >>> (d * Bits)).toInt & (Radix - 1))) != n) {
        // bucket starts, then a stable scatter of (key, perm) pairs
        var sum = 0
        var b = 0
        while (b < Radix) { val c = counts(base + b); counts(base + b) = sum; sum += c; b += 1 }
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
