package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every generator is a pure function of its
  * seed (`SplittableRandom` is specified bit-for-bit), so the same seed
  * gives byte-identical files; [[sha256]] over the written files is how
  * the benchmark checks that. The program under test only ever sees the
  * generated files and rows, never the seed or the ground truth. */
object Gen {

  // ---- LibSVM regression rows (sgd_*) ----

  val SgdDim: Int = 1 << 20
  val SgdRows = 30000
  val SgdNnz = 40
  val SgdFiles = 4
  val SgdNoise = 0.1

  /** Ground truth of one LibSVM data set, plus the full-data gradient at
    * w = 0, b = 0 (Σ −y·x / n) that the codec probe compresses. */
  final case class SgdTruth(dim: Int, bytes: Long, grad0: Array[Double])

  /** Planted weight of feature `j`: a fixed magnitude profile that
    * decays with the feature's rank (frequent features carry the
    * signal, so ten full-batch steps can learn it) and a seeded sign.
    * Fixing the magnitudes keeps the learnable share of the label
    * variance the same from seed to seed. */
  private def plantedWeight(seed: Long, j: Int): Double = {
    val sign = if ((mix(seed ^ 0x5bd1e995L, j) & 1L) == 0L) 1.0 else -1.0
    sign * 2.0 / math.sqrt(1.0 + j)
  }

  /** Writes `SgdFiles` LibSVM text files under `dir`. Feature indices
    * are skewed (0-based index = ⌊u³·dim⌋, distinct and ascending per
    * row), values are 0.50..1.49, labels are linear in the planted
    * weights plus Gaussian noise. Row 0 always carries feature dim−1,
    * so the inferred dimension equals `SgdDim`. */
  def libsvm(dir: Path, seed: Long): SgdTruth = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    val grad = new Array[Double](SgdDim)
    val idx = new Array[Int](SgdNnz)
    val vals = new Array[Double](SgdNnz)
    val seen = new java.util.BitSet(SgdDim)
    val sb = new java.lang.StringBuilder(1024)
    var bytes = 0L
    val perFile = SgdRows / SgdFiles
    var row = 0
    for (f <- 0 until SgdFiles) {
      val out = writer(dir.resolve(f"part-$f%02d.libsvm"))
      try {
        val end = if (f == SgdFiles - 1) SgdRows else row + perFile
        while (row < end) {
          var k = 0
          if (row == 0) { idx(0) = SgdDim - 1; seen.set(SgdDim - 1); k = 1 }
          while (k < SgdNnz) {
            val u = rnd.nextDouble()
            val j = math.min(SgdDim - 1, (u * u * u * SgdDim).toInt)
            if (!seen.get(j)) { seen.set(j); idx(k) = j; k += 1 }
          }
          java.util.Arrays.sort(idx)
          var y = 0.5 + SgdNoise * rnd.nextGaussian()
          k = 0
          while (k < SgdNnz) {
            seen.clear(idx(k))
            vals(k) = (50 + rnd.nextInt(100)) / 100.0
            y += plantedWeight(seed, idx(k)) * vals(k)
            k += 1
          }
          sb.setLength(0)
          sb.append(y)
          k = 0
          while (k < SgdNnz) {
            val cents = math.round(vals(k) * 100).toInt
            sb.append(' ').append(idx(k) + 1).append(':')
              .append(cents / 100).append('.').append(cents / 10 % 10).append(cents % 10)
            grad(idx(k)) -= y * vals(k)
            k += 1
          }
          sb.append('\n')
          out.write(sb.toString)
          bytes += sb.length()
          row += 1
        }
      } finally out.close()
    }
    var i = 0
    while (i < SgdDim) { grad(i) /= SgdRows; i += 1 }
    SgdTruth(SgdDim, bytes, grad)
  }

  // ---- text documents with planted copies (admit_stream) ----

  val VocabSize = 20000
  /** Verbatim copies per ten planted copies. */
  val ExactTenths = 3
  val ReplaceShare = 0.05

  /** `copyOf` is the doc id the document was copied from (−1 for a fresh
    * document); `exact` tells a verbatim copy from a 5%-edited one. */
  final case class Doc(id: Long, text: String, copyOf: Long, exact: Boolean)

  /** Seeded vocabulary: `VocabSize` distinct lower-case words of 3–9
    * letters, drawn with a Zipf-like (log-uniform) rank skew by
    * [[word]]. */
  final class Vocab(seed: Long) {
    private val words: Array[String] = {
      val rnd = new SplittableRandom(seed ^ 0x9e3779b97f4a7c15L)
      val set = new java.util.LinkedHashSet[String]()
      while (set.size < VocabSize) {
        val len = 3 + rnd.nextInt(7)
        val cs = Array.fill(len)(('a' + rnd.nextInt(26)).toChar)
        set.add(new String(cs))
      }
      set.toArray(new Array[String](0))
    }
    private val logV = math.log(VocabSize + 1.0)
    def word(rnd: SplittableRandom): String =
      words(math.min(VocabSize - 1, (math.exp(rnd.nextDouble() * logV) - 1.0).toInt))
  }

  def freshText(v: Vocab, rnd: SplittableRandom): String = {
    val n = 60 + rnd.nextInt(121)
    val sb = new java.lang.StringBuilder(n * 8)
    var i = 0
    while (i < n) { if (i > 0) sb.append(' '); sb.append(v.word(rnd)); i += 1 }
    sb.toString
  }

  /** `src` with `ReplaceShare` of its words (at least one) replaced by
    * vocabulary draws that differ from the word they replace. */
  def nearCopy(v: Vocab, rnd: SplittableRandom, src: String): String = {
    val ws = src.split(" ")
    val k = math.max(1, math.round(ws.length * ReplaceShare).toInt)
    var r = 0
    while (r < k) {
      val p = rnd.nextInt(ws.length)
      var w = v.word(rnd)
      while (w == ws(p)) w = v.word(rnd)
      ws(p) = w
      r += 1
    }
    ws.mkString(" ")
  }

  /** Every fourth doc is a planted copy; `ExactTenths` in ten copies, at
    * fixed positions, are verbatim. Fixing where copies sit keeps the
    * amount of duplicate work the same from seed to seed; the seed picks
    * the texts and each copy's source. */
  private def isCopy(i: Long): Boolean = i % 4 == 3
  private def isExact(i: Long): Boolean = (i / 4) % 10 < ExactTenths

  /** A batch corpus of `n` docs (ids 0..n−1). Each copy's source is a
    * uniformly chosen earlier fresh doc, so duplicate groups are stars
    * around one original. */
  def corpus(seed: Long, n: Int): Vector[Doc] = {
    val v = new Vocab(seed)
    val rnd = new SplittableRandom(seed)
    val fresh = mutable.ArrayBuffer.empty[Doc]
    Vector.tabulate(n) { i =>
      if (isCopy(i)) {
        val src = fresh(rnd.nextInt(fresh.size))
        if (isExact(i)) Doc(i, src.text, src.id, exact = true)
        else Doc(i, nearCopy(v, rnd, src.text), src.id, exact = false)
      } else {
        val d = Doc(i, freshText(v, rnd), -1L, exact = false)
        fresh += d
        d
      }
    }
  }

  /** Admission micro-batch `b` against a stored corpus of fresh docs:
    * ids start at `firstId`, and the copies are of corpus docs (never of
    * other streamed docs: the admission operator does not compare
    * streamed docs with each other). Each batch has its own seed, so
    * batch `b` is the same however many batches a run ends up feeding. */
  def admitBatch(seed: Long, v: Vocab, stored: Vector[Doc], b: Int,
                 size: Int, firstId: Long): Vector[Doc] = {
    val rnd = new SplittableRandom(mix(seed, b + 1))
    Vector.tabulate(size) { k =>
      val i = b.toLong * size + k
      if (isCopy(i)) {
        val src = stored(rnd.nextInt(stored.size))
        if (isExact(i)) Doc(firstId + k, src.text, src.id, exact = true)
        else Doc(firstId + k, nearCopy(v, rnd, src.text), src.id, exact = false)
      } else Doc(firstId + k, freshText(v, rnd), -1L, exact = false)
    }
  }

  /** A stored corpus of `n` fresh docs (ids 0..n−1) for admission. */
  def storedCorpus(seed: Long, v: Vocab, n: Int): Vector[Doc] = {
    val rnd = new SplittableRandom(seed)
    Vector.tabulate(n)(i => Doc(i, freshText(v, rnd), -1L, exact = false))
  }

  /** Tab-separated `doc_id \t text` lines (texts hold no tabs or
    * newlines). */
  def writeDocs(path: Path, docs: Seq[Doc]): Unit = {
    Files.createDirectories(path.getParent)
    val out = writer(path)
    try docs.foreach(d => out.write(s"${d.id}\t${d.text}\n"))
    finally out.close()
  }

  // ---- helpers ----

  /** SHA-256 over the files under `dir`, visited in name order. */
  def sha256(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val files = {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).sorted().toArray.map(_.asInstanceOf[Path])
      finally s.close()
    }
    files.foreach { f =>
      md.update(dir.relativize(f).toString.getBytes(StandardCharsets.UTF_8))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** SplitMix64 finalizer of (seed, i) — a stateless per-index draw. */
  def mix(seed: Long, i: Long): Long = {
    var z = seed + (i + 1) * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def writer(p: Path) =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(p.toFile),
      StandardCharsets.UTF_8), 1 << 16)
}
