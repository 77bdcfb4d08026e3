package graft.operators

import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** The near-dup text kernel: the distinct word-3-shingles, the MinHash
  * signature and the LSH band keys of ONE text. Every text near-dup
  * path applies it per row — [[Dedup.shingleRows]], [[Dedup.minhash]]
  * and the admission plan of [[Dedup.incrementalNearDup]] — so there
  * is one definition, not a columnar formula plus a per-row copy.
  *
  * The hashes are Spark's SQL `hash()` (Murmur3 x86_32, seed 42, the
  * public `Murmur3_x86_32` in spark-unsafe), so a signature equals the
  * columnar definition
  * `min over s of pmod((hash(s) & 0x7fffffff)·(2k+1) + k·40503, 2^31−1)`
  * and band b equals `hash(slice(sig, b·rowsPerBand + 1, rowsPerBand))`
  * bit for bit (`StreamingNearDupSpec` pins this against that formula).
  */
object MinHash {

  /** Murmur3 seed Spark's `hash()` uses. */
  private val HashSeed = 42

  private val Prime = 2147483647L // 2^31 - 1

  /** Distinct word-3-shingles in first-seen order: split on single
    * spaces keeping empty tokens (Spark's `split(text, " ")`), 3-token
    * windows joined by a space. Fewer than 3 tokens, or a null text,
    * has none. */
  def shingles(text: String): Array[String] = {
    if (text == null) return Array.empty
    val toks = text.split(" ", -1)
    val seen = new scala.collection.mutable.LinkedHashSet[String]
    var i = 0
    while (i + 2 < toks.length) {
      seen += (toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    seen.toArray
  }

  /** `numHashes`-permutation MinHash signature: permutation k is the
    * min over shingles of (base·(2k+1) + k·40503) mod (2^31−1), base =
    * Spark `hash(shingle)` & 0x7fffffff. No shingles, no signature. */
  def signature(shingles: Array[String], numHashes: Int): Array[Long] = {
    if (shingles.isEmpty) return Array.empty
    val bases = shingles.map { s =>
      val u = UTF8String.fromString(s)
      Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
        u.numBytes, HashSeed).toLong & 0x7fffffffL
    }
    Array.tabulate(numHashes) { k =>
      var m = Long.MaxValue
      var i = 0
      while (i < bases.length) {
        val v = (bases(i) * (2 * k + 1) + k * 40503L) % Prime
        val p = if (v < 0) v + Prime else v // pmod
        if (p < m) m = p
        i += 1
      }
      m
    }
  }

  /** LSH band keys: Spark `hash()` of each `rowsPerBand`-slice of the
    * signature (an array<bigint> hash folds hashLong from seed 42). */
  def bandKeys(sig: Array[Long], numBands: Int, rowsPerBand: Int): Array[Int] =
    if (sig.isEmpty) Array.empty
    else Array.tabulate(numBands) { b =>
      var h = HashSeed
      var i = b * rowsPerBand
      while (i < (b + 1) * rowsPerBand) { h = Murmur3_x86_32.hashLong(sig(i), h); i += 1 }
      h
    }
}
