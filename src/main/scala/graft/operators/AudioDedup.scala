package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The AUDIO modality of [[MediaDedup]]: decode
  * ([[Multimodal.decodeWav]]) → channel-mean mono → the |amplitude|
  * envelope resampled to 65 bins (one frame of 65 cells, 1 channel —
  * the 9×8-thumbnail rule applied to time) → 64 sign-delta bits of
  * adjacent-bin comparisons (invariant to small additive noise, so
  * perturbed twins agree on almost every bit while distinct clips
  * disagree on ~half) plus two mean-level grid keys; and the planted
  * fixtures of the `q_dedup_audio` / `q_dedup_incr_audio` gates. All
  * integer math.
  */
object AudioDedup extends MediaDedup {

  /** Envelope geometry: 65 bins → 64 adjacent-bin comparison bits. */
  val EnvBins = 65

  val Cells: Int = EnvBins
  val Channels = 1
  /** Mean abs envelope difference ≤ 600 sample units (e2 fixed point
    * → 60,000). A ±1-per-sample perturbed twin lands ≤ ~200 e2; two
    * distinct planted clips (independent full-range streams) land
    * ~1,000,000 e2. */
  val DefaultMaxMeanDiffE2 = 60000L
  val MinContainPct = 100

  /** Mean-|amplitude| envelope of decoded PCM resampled to
    * [[EnvBins]] fixed bins: channel-mean mono per frame, then each
    * bin averages its proportional frame range (always ≥1 frame —
    * the nearest-neighbor fallback when n < bins). Exact integer
    * math throughout. */
  private[graft] def envelope(ch: Int, samples: Array[Short]): Array[Int] = {
    val n = samples.length / ch
    val env = new Array[Int](EnvBins)
    var k = 0
    while (k < EnvBins) {
      val lo = k * n / EnvBins
      val hi = math.max(lo + 1, (k + 1) * n / EnvBins)
      var sum = 0L
      var i = lo
      while (i < hi) {
        var csum = 0L
        var c = 0
        while (c < ch) { csum += samples(i * ch + c); c += 1 }
        sum += math.abs(csum / ch)
        i += 1
      }
      env(k) = (sum / (hi - lo)).toInt
      k += 1
    }
    env
  }

  /** 64-bit sign-delta hash: bit k set iff env(k+1) > env(k). */
  private def signBits(env: Array[Int]): Long = {
    var bits = 0L
    var k = 0
    while (k < 64) {
      if (env(k + 1) > env(k)) bits |= 1L << k
      k += 1
    }
    bits
  }

  /** Quantized mean-level keys on two HALF-STEP-OFFSET grids — the
    * absolute-level complement that disperses flat clips (every
    * adjacent-bin comparison ties on silence regardless of DC
    * level). Step 2048 sample units over the 0..32767 mean; a twin
    * with mean shift ≤1 misses only by straddling BOTH grids (the
    * recall contract owns the residual). */
  private def levelKeys(envSum: Long): (Long, Long) = {
    val m = envSum / EnvBins
    (m / 2048L, (m + 1024L) / 2048L)
  }

  def frames(bytes: Array[Byte]): Seq[MediaDedup.Frame] =
    Multimodal.decodeWav(bytes).map { case (_, ch, samples) =>
      val env = envelope(ch, samples)
      val es = env.foldLeft(0L)(_ + _)
      val (ekA, ekB) = levelKeys(es)
      MediaDedup.Frame(env, Array(es), signBits(env), ekA, ekB)
    }.toSeq

  /** Fixture media column: every doc carries its planted WAV — the
    * [[withPlantedTwins]] base universe without the twins; the
    * stored-index corpus side of the admission gate. */
  def withPlantedClips(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, Multimodal.plantWav(id))))
      .toDF("doc_id", "media")
  }

  /** Planted RE-CRAWL batch for the admission gate (the
    * [[ImageDedup.plantedRecrawlBatch]] design one modality over):
    * for each stratum doc (doc_id ≡ 0 mod 20, doc_id < 2000 — the
    * pinned bounded panel every incremental key uses), a NEAR twin
    * under id + 1,000,000 (the [[withPlantedTwins]] +1 perturbation
    * on every 3rd sample — below every margin, MUST flag against the
    * stored index) and a FAR variant under id + 2,000,000 (every
    * sample shifted by a large position-dependent value mod the
    * 16-bit range — an independent-looking stream whose envelope sits
    * ~10,000 sample units from every planted clip's, far above the
    * 600-unit verify threshold). Both sides re-encode as canonical
    * WAVs and go through a REAL decode; the contract is judged
    * against the exact bipartite envelope truth, so an accidental
    * far-side match cannot break soundness. */
  def plantedRecrawlBatch(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .filter(id => id % 20 == 0 && id < 2000)
      .mapPartitions(_.flatMap { id =>
        val media = Multimodal.plantWav(id)
        Multimodal.decodeWav(media).iterator.flatMap { case (rate, ch, samples) =>
          val far = samples.clone()
          var j = 0
          while (j < far.length) {
            far(j) = (((far(j).toInt + 32768 + 9973 + (j % 7) * 8191)
              % 65536) - 32768).toShort
            j += 1
          }
          reencodedTwin(media).map(id + 1000000L -> _) ++
            Iterator(id + 2000000L -> wavFromPcm(rate, ch, far))
        }
      })
      .toDF("doc_id", "media")
  }

  /** Complete RIFF/WAVE (16-bit PCM, canonical 44-byte header) from
    * an arbitrary decoded sample grid — the re-encode half of the
    * planted-twin fixture (the [[ImageDedup.pngFromPixels]] role). */
  private[operators] def wavFromPcm(rate: Int, ch: Int,
                                    samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = new java.io.ByteArrayOutputStream(44 + dataLen)
    def b(v: Int): Unit = out.write(v & 0xff)
    def le16(v: Int): Unit = { b(v); b(v >>> 8) }
    def le32(v: Int): Unit = { b(v); b(v >>> 8); b(v >>> 16); b(v >>> 24) }
    def tag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    tag("RIFF"); le32(4 + (8 + 16) + (8 + dataLen)); tag("WAVE")
    tag("fmt "); le32(16)
    le16(1); le16(ch); le32(rate)
    le32(rate * ch * 2); le16(ch * 2); le16(16)
    tag("data"); le32(dataLen)
    var i = 0
    while (i < samples.length) { le16(samples(i) & 0xffff); i += 1 }
    out.toByteArray
  }

  /** Fixture twin: decode `media`, +1 on every 3rd PCM sample (the
    * re-encode/dither artifact an envelope hash must survive),
    * re-encoded as WAV. None when undecodable. */
  private[graft] def reencodedTwin(media: Array[Byte]): Option[Array[Byte]] =
    Multimodal.decodeWav(media).map { case (rate, ch, samples) =>
      val p = samples.clone()
      var i = 0
      while (i < p.length) {
        if (i % 3 == 0)
          p(i) = math.min(32767, p(i) + 1).toShort
        i += 1
      }
      wavFromPcm(rate, ch, p)
    }

  /** Fixture media column for the `q_dedup_audio` gate: every doc
    * carries its planted WAV ([[Multimodal.plantWav]] — junk LIST
    * chunk, varying rate/channels/length), and every doc_id ≡ 0
    * (mod 20) additionally plants a NEAR-DUPLICATE TWIN under
    * doc_id + 1,000,000 — the source's DECODED samples nudged +1
    * (clamped) on every 3rd position, re-encoded as a canonical WAV.
    * Both sides of the compare go through a REAL decode; the
    * perturbation stays below both the sign-delta margins and the
    * verify threshold while any two DISTINCT planted clips differ by
    * orders of magnitude more. */
  def withPlantedTwins(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val media = Multimodal.plantWav(id)
        val base = Iterator((id, media))
        if (id % 20 == 0)
          base ++ reencodedTwin(media).iterator.map(m => (id + 1000000L, m))
        else base
      })
      .toDF("doc_id", "media")
  }
}
