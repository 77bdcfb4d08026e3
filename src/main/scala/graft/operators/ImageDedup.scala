package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The IMAGE modality of [[MediaDedup]]: decode → fixed 9×8 RGB
  * thumbnail (216 cells, 3 channels) → dHash (difference hash: 64 bits
  * of adjacent-cell comparisons, invariant to brightness shifts and
  * small pixel noise, so re-encoded/lightly-edited twins agree on
  * almost every bit) plus two mean-color grid keys; and the planted
  * fixtures of the `q_dedup_image` / `q_dedup_incr_image` gates. An
  * image is one frame; the engine owns candidates, verify, verdict,
  * stored index and admission.
  */
object ImageDedup extends MediaDedup {

  /** Thumbnail geometry: 9 columns × 8 rows so each row yields 8
    * adjacent-column comparisons → exactly 64 hash bits. */
  val ThumbW = 9
  val ThumbH = 8

  val Cells: Int = ThumbW * ThumbH * 3
  val Channels = 3
  val DefaultMaxMeanDiffE2 = 600L
  val MinContainPct = 100

  /** RGB thumbnail of decoded pixels: nearest-neighbor resample to
    * 9×8 ([[Multimodal.resizePixels]] — the pipeline's one resize
    * routine), kept PER CHANNEL (216 ints, 0..255). The verify metric
    * must stay per-channel: a channel-SUM (grayscale) thumbnail lets
    * two differently-colored flat images cancel — the planted-JPEG
    * fixture has pairs whose gray sums land within the twin margin
    * while R alone differs by ~45 (a measured false drop), exactly
    * the hue-swapped-logo case a real pipeline must not merge. */
  private def rgbThumb(px: Array[Byte], w: Int, h: Int): Array[Int] = {
    val rp = Multimodal.resizePixels(px, w, h, ThumbW, ThumbH)
    Array.tabulate(ThumbW * ThumbH * 3)(i => rp(i) & 0xff)
  }

  /** 64-bit dHash over per-cell channel sums (dHash itself is a
    * LUMINANCE-gradient hash — candidates may collide across hues,
    * the per-channel verify disambiguates): bit (y·8+x) set iff
    * sum(x+1, y) > sum(x, y). */
  private def dhash(t: Array[Int]): Long = {
    def cell(x: Int, y: Int): Int = {
      val i = 3 * (y * ThumbW + x)
      t(i) + t(i + 1) + t(i + 2)
    }
    var bits = 0L
    var y = 0
    while (y < ThumbH) {
      var x = 0
      while (x < 8) {
        if (cell(x + 1, y) > cell(x, y)) bits |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    bits
  }

  /** Mean-color cell keys on two HALF-STEP-OFFSET grids — the
    * absolute-level (aHash-style) complement dHash lacks: a FLAT
    * image's thumbnail is constant, every adjacent-cell comparison
    * ties, and all flat images collide on the same hash regardless of
    * color (measured: the planted-JPEG fixture put ~26% of the corpus
    * in four band buckets — 4.1M candidate pairs at sf0.1, 25 s of
    * interpreted verify). Keying the bucket join additionally on a
    * quantized mean-color cell disperses them by LEVEL (42k pairs);
    * the second, half-step-shifted grid restores the pairs that
    * straddle a cell boundary — a twin with per-channel mean shift
    * ≤1 can miss only by straddling BOTH grids in DIFFERENT channels
    * (measured 1/250 planted twins; the recall contract owns the
    * residual). Step 32 levels per channel over the 72-cell sums
    * (divisor 72·32 = 2304). */
  private def channelSums(t: Array[Int]): Array[Long] = {
    val s = new Array[Long](3)
    var i = 0
    while (i < t.length) { s(i % 3) += t(i); i += 1 }
    s
  }

  private def colorKeys(s: Array[Long]): (Long, Long) = {
    // base-9 digit packing: each channel digit is ⌊(sum+off)/2304⌋ ∈
    // 0..8 (max sum 72·255 = 18360, (18360+1152)/2304 = 8), so base-8
    // multipliers (64/8/1) would collide e.g. (0,8,0) with (1,0,0) and
    // merge unrelated bright-channel color buckets (false candidates —
    // perf only, but it defeats the flat-image dispersal this key
    // exists for)
    def key(off: Long): Long =
      ((s(0) + off) / 2304) * 81 + ((s(1) + off) / 2304) * 9 + (s(2) + off) / 2304
    (key(0L), key(1152L))
  }

  /** One image frame's features over already-decoded pixels: the RGB
    * thumbnail, its channel sums, dHash and color-grid keys — shared
    * with [[VideoDedup]], whose sampled frames are images. */
  private[operators] def frameFeatures(px: Array[Byte], w: Int, h: Int)
      : MediaDedup.Frame = {
    val t = rgbThumb(px, w, h)
    val s = channelSums(t)
    val (ckA, ckB) = colorKeys(s)
    MediaDedup.Frame(t, s, dhash(t), ckA, ckB)
  }

  def frames(bytes: Array[Byte]): Seq[MediaDedup.Frame] =
    Multimodal.decodeImage(bytes).map { case (w, h, px) =>
      frameFeatures(px, w, h)
    }.toSeq

  /** Fixture media column: every doc carries its planted image — the
    * [[withPlantedTwins]] base universe without the twins; the
    * stored-index corpus side of the admission gate. */
  def withPlantedImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id =>
        (id, Multimodal.plantHeader(id, Array.emptyByteArray))))
      .toDF("doc_id", "media")
  }

  /** Planted RE-CRAWL batch for the admission gate: for each stratum
    * doc (doc_id ≡ 0 mod 20, doc_id < 2000 — the pinned bounded
    * panel every incremental key uses), a NEAR twin under
    * id + 1,000,000 ([[withPlantedTwins]]'s +1 perturbation on a
    * third of positions — below every margin, MUST flag against the
    * stored index) and a FAR variant under id + 2,000,000 (decoded
    * pixels scrambled by a large position-dependent shift mod 256 —
    * noise-like, far from every smooth planted image, must stay
    * novel). Both sides re-encode as PNG and go through a REAL
    * decode; the contract is judged against the exact bipartite
    * truth, so an accidental far-side match cannot break soundness. */
  def plantedRecrawlBatch(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .filter(id => id % 20 == 0 && id < 2000)
      .mapPartitions(_.flatMap { id =>
        val media = Multimodal.plantHeader(id, Array.emptyByteArray)
        Multimodal.decodeImage(media).iterator.flatMap { case (w, h, px) =>
          val far = px.clone()
          var j = 0
          while (j < far.length) {
            far(j) = (((far(j) & 0xff) + 97 + (j % 3) * 53 +
              ((j / 3) % 7) * 31) % 256).toByte
            j += 1
          }
          reencodedTwin(media).map(id + 1000000L -> _) ++
            Iterator(id + 2000000L -> pngFromPixels(w, h, far))
        }
      })
      .toDF("doc_id", "media")
  }

  /** Complete PNG (8-bit truecolor, real zlib, filter cycling like
    * [[Multimodal.plantPng]]) from an arbitrary decoded pixel grid —
    * the re-encode half of the planted-twin fixture. */
  private[operators] def pngFromPixels(w: Int, h: Int,
                                       px: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64 + h * (1 + 3 * w))
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).foreach(out.write)
    val ihdr = new Array[Byte](13)
    ihdr(0) = (w >>> 24).toByte; ihdr(1) = (w >>> 16).toByte
    ihdr(2) = (w >>> 8).toByte; ihdr(3) = w.toByte
    ihdr(4) = (h >>> 24).toByte; ihdr(5) = (h >>> 16).toByte
    ihdr(6) = (h >>> 8).toByte; ihdr(7) = h.toByte
    ihdr(8) = 8; ihdr(9) = 2
    Multimodal.writeChunk(out, "IHDR", ihdr)
    val raw = new java.io.ByteArrayOutputStream(h * (1 + 3 * w))
    var prev = new Array[Byte](3 * w)
    var y = 0
    while (y < h) {
      val line = java.util.Arrays.copyOfRange(px, y * 3 * w, (y + 1) * 3 * w)
      val ft = y % 5
      raw.write(ft)
      val filtered = Multimodal.filterLine(ft, line, prev)
      raw.write(filtered, 0, filtered.length)
      prev = line
      y += 1
    }
    Multimodal.writeChunk(out, "IDAT", Multimodal.deflate(raw.toByteArray))
    Multimodal.writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Fixture twin: decode `media`, +1 on every pixel whose
    * (x+y) ≡ 0 (mod 3) — the re-encode/levels-shift artifact a
    * perceptual hash must survive — re-encoded as PNG. None when
    * undecodable. */
  private[graft] def reencodedTwin(media: Array[Byte]): Option[Array[Byte]] =
    Multimodal.decodeImage(media).map { case (w, h, px) =>
      val p = px.clone()
      var i = 0
      while (i < p.length) {
        val xy = (i / 3) % w + (i / 3) / w
        if (xy % 3 == 0)
          p(i) = math.min(255, (p(i) & 0xff) + 1).toByte
        i += 1
      }
      pngFromPixels(w, h, p)
    }

  /** Fixture media column for the `q_dedup_image` gate: every doc
    * carries its planted image ([[Multimodal.withPlantedMedia]]'s
    * PNG/JPEG mix), and every doc_id ≡ 0 (mod 20) additionally plants
    * a NEAR-DUPLICATE TWIN under doc_id + 1,000,000 — the source's
    * DECODED pixels nudged +1 (clamped) on every (x+y) % 3 == 0
    * position, re-encoded as PNG. Even-id sources pair PNG↔PNG; the
    * fixture's id%20==0 stratum is all even, so cross-codec pairing
    * (JPEG source, PNG twin) is exercised separately in
    * `ImageDedupSpec` — either way both sides of the compare go
    * through a REAL decode, and the perturbation stays below both
    * the dHash comparison margins and the verify threshold while any
    * two DISTINCT planted images differ by two orders of magnitude
    * more. */
  def withPlantedTwins(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val media = Multimodal.plantHeader(id, Array.emptyByteArray)
        val base = Iterator((id, media))
        if (id % 20 == 0)
          base ++ reencodedTwin(media).iterator.map(m => (id + 1000000L, m))
        else base
      })
      .toDF("doc_id", "media")
  }
}
