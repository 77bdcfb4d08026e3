package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The VIDEO modality of [[MediaDedup]]: walk the RIFF/AVI container
  * ([[Multimodal.decodeAvi]]), decode every [[SampleEveryN]]-th frame
  * with the general image decoder (MJPEG or re-encoded PNG frames both
  * land on [[Multimodal.decodeImage]]) and take each sampled frame's
  * image features ([[ImageDedup.frameFeatures]]: 216 cells, 3
  * channels). A stream is its sampled frames in order; bucket keys are
  * the union over frames, so a frame-dropped twin (whose frame ordinals
  * shift) still collides with its source, and the verify is
  * containment: the later stream is a near-dup when ≥ 70% of its
  * sampled frames have a partner in the earlier one (set semantics — a
  * sub-stream adds nothing new). Plus the planted fixtures of the
  * `q_dedup_video` / `q_dedup_incr_video` gates.
  */
object VideoDedup extends MediaDedup {

  /** Temporal sampling rate: fingerprint every 2nd frame (the
    * [[Multimodal.videoFrames]] default — pretraining video ingest
    * rate-reduces before any per-frame work). */
  val SampleEveryN = 2

  val Cells: Int = ImageDedup.Cells
  val Channels: Int = ImageDedup.Channels
  val DefaultMaxMeanDiffE2 = 600L
  val MinContainPct = 70

  def frames(bytes: Array[Byte]): Seq[MediaDedup.Frame] =
    Multimodal.decodeAvi(bytes).toSeq.flatMap { frames =>
      frames.zipWithIndex.collect {
        case (fb, f) if f % SampleEveryN == 0 => Multimodal.decodeImage(fb)
      }.flatten.map { case (w, h, px) => ImageDedup.frameFeatures(px, w, h) }
    }

  /** Fixture media column: every doc carries its planted AVI — the
    * [[withPlantedTwins]] base universe without the twins; the
    * stored-index corpus side of the admission gate. */
  def withPlantedStreams(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, Multimodal.plantAvi(id))))
      .toDF("doc_id", "media")
  }

  /** Planted RE-CRAWL batch for the admission gate (the
    * [[AudioDedup.plantedRecrawlBatch]] design one modality over):
    * for each stratum doc (doc_id ≡ 0 mod 20, < 2000 — the pinned
    * bounded panel), a NEAR twin under id + 1,000,000
    * ([[reencodedTwin]] — uniform +1 brightness PNG re-mux, MUST
    * flag) and a FAR variant under id + 2,000,000 (every frame's
    * pixels scrambled by a large position-dependent shift — an
    * independent-looking stream no planted source contains). Both
    * go through a REAL decode; the contract is judged against the
    * exact bipartite containment truth. */
  def plantedRecrawlBatch(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .filter(id => id % 20 == 0 && id < 2000)
      .mapPartitions(_.flatMap { id =>
        val media = Multimodal.plantAvi(id)
        val near = reencodedTwin(media).iterator
          .map(m => (id + 1000000L, m))
        val far = remux(media) { p =>
          var j = 0
          while (j < p.length) {
            p(j) = (((p(j) & 0xff) + 97 + (j % 3) * 53 + ((j / 3) % 7) * 31) % 256).toByte
            j += 1
          }
        }.iterator.map(m => (id + 2000000L, m))
        near ++ far
      })
      .toDF("doc_id", "media")
  }

  /** Fixture twin: decode every frame, brighten uniformly +1 (the
    * re-encode/levels-shift artifact; uniform because the planted
    * MJPEG frames are DC-flat, where a scattered perturbation breaks
    * dHash's comparison TIES and the twin stops colliding —
    * brightness shifts are exactly what dHash is invariant to),
    * re-encode each frame as PNG and re-mux the container. None when
    * no frame decodes. */
  private[graft] def reencodedTwin(media: Array[Byte]): Option[Array[Byte]] =
    remux(media) { p =>
      var i = 0
      while (i < p.length) {
        p(i) = math.min(255, (p(i) & 0xff) + 1).toByte
        i += 1
      }
    }

  /** Decode every MJPEG frame of `media`, rewrite its pixels in place
    * with `edit`, re-encode each as PNG and re-mux the container. None
    * when no frame decodes. */
  private def remux(media: Array[Byte])(edit: Array[Byte] => Unit): Option[Array[Byte]] =
    Multimodal.decodeAvi(media).flatMap { frames =>
      val enc = frames.flatMap(fb =>
        Multimodal.decodeJpeg(fb).map { case (w, h, px) =>
          val p = px.clone()
          edit(p)
          (ImageDedup.pngFromPixels(w, h, p), w, h)
        })
      if (enc.isEmpty) None
      else Some(Multimodal.aviFromFrames(enc.map(_._1), enc.head._2, enc.head._3))
    }

  /** Fixture: every doc carries its planted MJPEG/AVI stream
    * ([[Multimodal.plantAvi]]); ids ≡ 0 (mod 20) additionally plant a
    * RE-ENCODED twin at id + 1,000,000 — every frame decoded,
    * uniformly brightened +1 (the re-encode/levels-shift artifact;
    * uniform because the planted MJPEG frames are DC-flat, where a
    * scattered perturbation breaks dHash's comparison TIES and the
    * twin stops colliding — brightness shifts are exactly what dHash
    * is invariant to), re-encoded as a PNG frame and re-muxed — and
    * ids ≡ 10 (mod 20) plant a
    * FRAME-DROPPED twin at id + 2,000,000 (the same stream minus its
    * last frame, the partial-re-upload case). Both twins must be
    * caught by sampled-frame containment, neither by byte equality. */
  def withPlantedTwins(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val media = Multimodal.plantAvi(id)
        val base = Iterator((id, media))
        if (id % 20 == 0) {
          base ++ reencodedTwin(media).iterator.map(m => (id + 1000000L, m))
        } else if (id % 20 == 10) {
          val twin = Multimodal.decodeAvi(media).collect {
            case frames if frames.length > 1 =>
              Multimodal.aviFromFrames(frames.dropRight(1),
                Multimodal.plantedWidth(id), Multimodal.plantedHeight(id))
          }
          base ++ twin.iterator.map(m => (id + 2000000L, m))
        } else base
      })
      .toDF("doc_id", "media")
  }
}
