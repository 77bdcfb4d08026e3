package graft.queries

import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.operators.{AudioDedup, Dedup, ImageDedup, MediaDedup, Multimodal, VideoDedup}
import QuerySpec._
import Common._

/** Media near-dup dedup and multimodal plumbing (SURVEY.md §2.5):
  * image, audio and video verdicts and stored-index admission through
  * the one `MediaDedup` engine, plus decode, resize and frame queries
  * over the planted media columns. */
object MediaQueries {

  /** Exact truth of the media contract keys: ids of `probes`
    * (doc_id, fr, sm) contained in some print of `corpus` (same
    * columns) — the engine's verify over EVERY (corpus, probe) pair,
    * corpus id < probe id when `earlierOnly`; no banding anywhere.
    * One path for every modality: one row per frame on each side, the
    * bounded probe side broadcast into a scan of the corpus whose
    * codegen'd condition is a necessary one (a contained probe has a
    * frame whose channel sums all lie within `maxSumDiff` of some
    * corpus frame's), and the surviving rows carry both prints
    * straight into the verify — a pair that several frames put
    * forward is verified once per such row. */
  private def containedTruth(m: MediaDedup, probes: org.apache.spark.sql.DataFrame,
                             corpus: org.apache.spark.sql.DataFrame,
                             earlierOnly: Boolean): org.apache.spark.sql.DataFrame = {
    val thr = m.DefaultMaxMeanDiffE2
    val msd = m.maxSumDiff(thr)
    // one row per frame: (id, sm‹id›, fr‹id›, id‹c›) with id‹c› the
    // frame's channel sums
    def frameRows(df: org.apache.spark.sql.DataFrame, id: String) =
      df.select(col("doc_id").as(id), col("sm").as("sm" + id), col("fr").as("fr" + id),
          explode(sequence(lit(0), (size(col("sm")) / m.Channels - 1).cast("int"))).as("k"))
        .select(Seq(col(id), col("sm" + id), col("fr" + id)) ++ (0 until m.Channels).map(c =>
          col("sm" + id).getItem(col("k") * m.Channels + c).as(s"$id$c")): _*)
    val near = (0 until m.Channels).map(c =>
      abs(col(s"a$c") - col(s"b$c")) <= msd).reduce(_ && _)
    val order = if (earlierOnly) col("a") < col("b") else lit(true)
    m.verify(broadcast(frameRows(probes, "b")).join(frameRows(corpus, "a"), order && near), thr)
      .select(col("b").as("doc_id")).distinct()
  }

  /** The `q_dedup_{image,audio,video}` contract over a planted-twin
    * `corpus` (doc_id, media): the engine's verdict, plus sound = a
    * deterministic ≤256-drop panel (mod-7 thinning, id order — the
    * q_dedup_semantic truth rule, ≤ 256·n pairs at any scale)
    * re-verified against EVERY earlier print without banding, and
    * recall_ok = ≥80% of planted twins (ids ≥ 1,000,000) dropped.
    * Eager finish: the contract row is computed while the print and
    * verdict caches are hot ([[MediaDedup.withVerdict]]), then both
    * are released. */
  private def mediaDedupContract(s: org.apache.spark.sql.SparkSession, m: MediaDedup,
                                 corpus: org.apache.spark.sql.DataFrame,
                                 countCol: String): org.apache.spark.sql.DataFrame =
    m.withVerdict(corpus) { (prints, res) =>
      import s.implicits._
      try {
        // the panel is collected once: ≤256 ids
        val panel = res.filter(!col("keep") && pmod(col("doc_id"), lit(7)) === 0)
          .select(col("doc_id")).orderBy(col("doc_id")).limit(256).as[Long].collect()
        val nConfirmed = containedTruth(m, prints.filter(col("doc_id").isin(panel: _*)),
          prints, earlierOnly = true).count()
        val row = res.agg(
            count(lit(1)),
            sum(when(col("doc_id") >= 1000000L, 1L).otherwise(0L)),
            sum(when(!col("keep") && col("doc_id") >= 1000000L, 1L).otherwise(0L)))
          .head()
        Seq((row.getLong(0), row.getLong(1), nConfirmed == panel.length,
            row.getLong(2) >= row.getLong(1) * 0.8))
          .toDF(countCol, "n_planted", "sound", "recall_ok")
      } finally Materialize.release(res)
    }

  /** The `q_dedup_incr_{image,audio,video}` contract: build (once per
    * catalog vintage) the stored index of `corpus` (doc_id, media),
    * admit the planted re-crawl `batch` against it, and judge the
    * verdicts against the exact bipartite truth (batch × corpus, no
    * banding): n_batch, sound (no flag without a truth match),
    * recall_ok (≥80% of truth matches flagged), reuse_ok (the second
    * catalog open resolves from its manifest alone — its build
    * closure THROWS). The catalog params carry the stored layout, so
    * an index in an older layout is rebuilt, never misread. */
  private def mediaAdmissionContract(s: org.apache.spark.sql.SparkSession, d: String,
                                     m: MediaDedup, family: String,
                                     extra: Map[String, String],
                                     corpus: org.apache.spark.sql.DataFrame,
                                     batch: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val n = Tables.documents(s, d).count()
    val params = Map("family" -> family, "sf" -> d, "n" -> n.toString,
      "thr" -> m.DefaultMaxMeanDiffE2.toString, "layout" -> "media1") ++ extra
    val (dir1, _) = graft.IndexCatalog.openOrBuild(s,
      graft.IndexMemo.catalogRoot, s"${family}_incr", params)(stg =>
      m.buildIndex(corpus, stg))
    val (dir2, reused2) = graft.IndexCatalog.openOrBuild(s,
      graft.IndexMemo.catalogRoot, s"${family}_incr", params)(_ =>
      throw new IllegalStateException(
        "catalog reopen must not rebuild a vintage-matched index"))
    val reuseOk = reused2 && dir1 == dir2
    Materialize.withCached(batch) {
      // eager cache fill: the admission and the truth branch read the
      // batch concurrently — a cold cache would make both re-plant it
      batch.count()
      // the admission and the exact truth are INDEPENDENT pipelines
      // joined only at the final contract aggregation: the admission
      // runs as a concurrent job group (its narrow verdict
      // checkpointed there) while this thread materializes the truth
      // batch-sized: one verdict per batch row
      val fRes = bgJob(Materialize.barrier(m.admission(batch, dir2).toDF()))
      // batch-sized: one row per matched batch doc
      val truth = Materialize.barrier(containedTruth(m, m.prints(batch),
          m.prints(corpus), earlierOnly = false)
        .withColumn("t", lit(1)))
      val flagged = await(fRes)
        .filter(col("status") === Dedup.NearDup)
        .select(col("doc_id"), lit(1).as("f"))
      // row-sized: the one contract row, materialized before the batch
      // cache is released
      Materialize.barrier(batch.select(col("doc_id"))
        .join(flagged, Seq("doc_id"), "left")
        .join(truth, Seq("doc_id"), "left")
        .agg(
          count(lit(1)).as("n_batch"),
          coalesce(max(when(col("f") === 1 && col("t").isNull, 1)
            .otherwise(0)), lit(0)).as("unsound"),
          coalesce(sum(coalesce(col("t"), lit(0))), lit(0))
            .cast("double").as("n_exact"),
          coalesce(sum(when(col("f") === 1 && col("t") === 1, 1)
            .otherwise(0)), lit(0)).cast("double").as("n_hit"))
        .select(col("n_batch"), (col("unsound") === 0).as("sound"),
          (col("n_hit") >= col("n_exact") * 0.8).as("recall_ok"),
          lit(reuseOk).as("reuse_ok")))
    }
  }

  val specs: Seq[QuerySpec] = Seq(
    // perceptual-hash IMAGE near-dup as a checked contract: every doc
    // carries its planted image and a 5% stratum plants a perturbed
    // near-duplicate twin (decoded pixels +1 on a third of positions,
    // re-encoded PNG, REAL decode on both sides). dHash → 4×16-bit
    // Hamming-band candidate join → exact thumbnail-distance verify
    // on candidates only. sound = a deterministic ≤256-drop panel
    // re-verified against the exact global thumbnail definition (the
    // q_dedup_semantic truth rule — bounded at any scale); recall_ok
    // = ≥80% of planted twins dropped
    QuerySpec("q_dedup_image",
      Sql("SELECT (SELECT count(*) FROM documents) " +
        "+ (SELECT count(*) FROM documents WHERE doc_id % 20 = 0) AS n_images, " +
        "(SELECT count(*) FROM documents WHERE doc_id % 20 = 0) AS n_planted, " +
        "TRUE AS sound, TRUE AS recall_ok"),
      Plan(Some("Decode→thumbnail→dHash is one zero-shuffle typed pass over " +
          "the media scan; candidates are the pairs within each " +
          "(band, value, color-cell) bucket, one shuffle grouping each " +
          "bucket's sorted ids under a deterministic hot-bucket cap " +
          "(blank-image mega-buckets bound the pair count instead of " +
          "squaring it), and the typed verify (channel-sum gate, then the " +
          "exact per-channel distance) joins the 216-int frames BY ID for " +
          "candidates only — the semanticDedup two-stage discipline " +
          "applied to pixels."),
        Some(Internal("internal: the near-dup PAIR frame the verdict " +
            "folds (graft.operators.MediaDedup, the image modality) — the " +
            "capped (band, value, color-cell) bucket groups (one shuffle, " +
            "a typed pass emits each group's pairs), each pair joined BY ID to both sides' channel sums and 216-int frames, " +
            "and one typed mapPartitions verify — sum gate, then the exact " +
            "per-channel distance (SerializeFromObject above MapPartitions " +
            "in the plan — the optimizer barrier that keeps the per-element " +
            "loops out of every join condition).",
          (s, d, _) => {
            val m = graft.operators.ImageDedup
            m.nearDupPairs(m.prints(m.withPlantedTwins(graft.Tables.documents(s, d))))
          })))) { (s, d) =>
      // parquet-memoized plant (graft.MediaFixtures): the decode +
      // perturb + PNG re-encode fixture synthesis is input
      // construction, paid once per session instead of per attempt
      val corpus = graft.MediaFixtures.memo(s, "img_twins", d)(
        ImageDedup.withPlantedTwins(Tables.documents(s, d)))
      mediaDedupContract(s, ImageDedup, corpus, "n_images")
    },

    // energy-envelope AUDIO near-dup as a checked contract — the
    // q_dedup_image design one modality over: every doc carries its
    // planted WAV and a 5% stratum plants a perturbed near-duplicate
    // twin (decoded samples +1 on every 3rd position, re-encoded
    // WAV, REAL decode on both sides). sign-delta envelope hash →
    // 4×16-bit Hamming-band candidate join → exact envelope-distance
    // verify on candidates only. sound = a deterministic ≤256-drop
    // panel re-verified against the exact global envelope definition;
    // recall_ok = ≥80% of planted twins dropped
    QuerySpec("q_dedup_audio",
      Sql("SELECT (SELECT count(*) FROM documents) " +
        "+ (SELECT count(*) FROM documents WHERE doc_id % 20 = 0) AS n_clips, " +
        "(SELECT count(*) FROM documents WHERE doc_id % 20 = 0) AS n_planted, " +
        "TRUE AS sound, TRUE AS recall_ok"),
      Plan(None,
        Some(Internal("internal: the audio near-dup PAIR frame — the " +
            "same engine plan over the audio kernel (one 65-int envelope " +
            "frame, sign-delta bands, mean-level grids).",
          (s, d, _) => {
            val m = graft.operators.AudioDedup
            m.nearDupPairs(m.prints(m.withPlantedTwins(graft.Tables.documents(s, d))))
          })))) { (s, d) =>
      // parquet-memoized plant, the q_dedup_image rationale
      val corpus = graft.MediaFixtures.memo(s, "aud_twins", d)(
        AudioDedup.withPlantedTwins(Tables.documents(s, d)))
      mediaDedupContract(s, AudioDedup, corpus, "n_clips")
    },

    // sampled-frame VIDEO near-dup (completes the modality matrix:
    // text / embedding / semantic / image / audio / video): every doc
    // carries a planted MJPEG/AVI stream; ids ≡0 (mod 20) plant a
    // re-encoded (uniform +1 brightness, PNG re-mux) twin, ids ≡10 a
    // frame-dropped twin. The operator walks the container, dHash-
    // fingerprints every 2nd frame, finds candidates through frame
    // (band, color-cell) buckets, and drops the later stream of a
    // pair when ≥70% of its sampled frames are exactly contained in
    // the earlier one. sound = a capped drop panel re-verified by
    // exact frame containment WITHOUT the banding; recall_ok = ≥80%
    // of planted twins dropped
    QuerySpec("q_dedup_video",
      Sql("SELECT (SELECT count(*) FROM documents) " +
        "+ (SELECT count(*) FROM documents WHERE doc_id % 20 = 0) " +
        "+ (SELECT count(*) FROM documents WHERE doc_id % 20 = 10) AS n_streams, " +
        "(SELECT count(*) FROM documents WHERE doc_id % 20 = 0) " +
        "+ (SELECT count(*) FROM documents WHERE doc_id % 20 = 10) AS n_planted, " +
        "TRUE AS sound, TRUE AS recall_ok")) { (s, d) =>
      // parquet-memoized plant: the codec-pipeline fixture synthesis
      // is input construction, not operator work (graft.MediaFixtures)
      val corpus = graft.MediaFixtures.memo(s, "vid_twins", d)(
        VideoDedup.withPlantedTwins(Tables.documents(s, d)))
      mediaDedupContract(s, VideoDedup, corpus, "n_streams")
    },

    // incremental IMAGE admission against a STORED index (the
    // round-14 gap: image dedup re-thumbnailed and re-paired the
    // whole corpus on every re-crawl while every other dedup family
    // had a stored lifecycle): the rep prints + hash-sharded
    // (band, value, color-cell) bucket index persist through
    // IndexCatalog (params include the corpus vintage and the stored
    // layout); the pinned re-crawl batch of planted near twins (must
    // flag) and scrambled far variants (must stay novel) is admitted
    // through the engine's one admission plan (stream-static bucket
    // and rep joins, typed sum gate + exact verify, per-doc fold).
    // sound/recall vs the exact bipartite truth (broadcast bounded
    // batch); reuse_ok = the second catalog open resolves the index
    // from its manifest alone — the build closure THROWS if invoked
    // again
    QuerySpec("q_dedup_incr_image",
      // every stratum doc plants exactly one near twin + one far
      // variant (both re-encoded PNGs of an always-decodable planted
      // image), so n_batch is pure stratum arithmetic; the contract
      // booleans are engine-side (exact bipartite truth + catalog
      // reuse)
      Sql("SELECT CAST(2 * count(*) AS BIGINT) AS n_batch, TRUE AS sound, " +
        "TRUE AS recall_ok, TRUE AS reuse_ok " +
        "FROM documents WHERE doc_id % 20 = 0 AND doc_id < 2000"),
      Plan(None,
        Some(Internal("internal: the ADMISSION plan against a " +
            "freshly built stored index — one lazy plan for a batch or a " +
            "stream: the per-row kernel, the batch keys left-join the " +
            "stored buckets and then the stored rep prints (static sides, " +
            "full scans, broadcast while the index is under the broadcast " +
            "threshold), a typed sum-gate + exact-verify vote per " +
            "candidate, and the per-doc verdict fold " +
            "(FlatMapGroupsWithState, no state kept).",
          (s, d, dir) => {
            val m = graft.operators.ImageDedup
            val docs = graft.Tables.documents(s, d)
            m.buildIndex(m.withPlantedImages(docs), dir)
            m.admission(m.plantedRecrawlBatch(docs), dir).toDF()
          })))) { (s, d) =>
      val docs = Tables.documents(s, d)
      mediaAdmissionContract(s, d, ImageDedup, "imgdedup", Map.empty,
        graft.MediaFixtures.memo(s, "img_corpus", d)(ImageDedup.withPlantedImages(docs)),
        graft.MediaFixtures.memo(s, "img_recrawl", d)(ImageDedup.plantedRecrawlBatch(docs)))
    },

    // incremental AUDIO and VIDEO admission against a STORED index —
    // the q_dedup_incr_image lifecycle one modality over (video: rep
    // streams and frame-level bucket keys, containment verify)
    QuerySpec("q_dedup_incr_video",
      Sql("SELECT CAST(2 * count(*) AS BIGINT) AS n_batch, TRUE AS sound, " +
        "TRUE AS recall_ok, TRUE AS reuse_ok " +
        "FROM documents WHERE doc_id % 20 = 0 AND doc_id < 2000")) { (s, d) =>
      val docs = Tables.documents(s, d)
      mediaAdmissionContract(s, d, VideoDedup, "viddedup", Map("contain" -> "70"),
        graft.MediaFixtures.memo(s, "vid_corpus", d)(VideoDedup.withPlantedStreams(docs)),
        graft.MediaFixtures.memo(s, "vid_recrawl", d)(VideoDedup.plantedRecrawlBatch(docs)))
    },

    QuerySpec("q_dedup_incr_audio",
      Sql("SELECT CAST(2 * count(*) AS BIGINT) AS n_batch, TRUE AS sound, " +
        "TRUE AS recall_ok, TRUE AS reuse_ok " +
        "FROM documents WHERE doc_id % 20 = 0 AND doc_id < 2000"),
      Plan(None,
        Some(Internal("internal: the audio ADMISSION plan — the " +
            "q_dedup_incr_image plan over the audio kernel.",
          (s, d, dir) => {
            val m = graft.operators.AudioDedup
            val docs = graft.Tables.documents(s, d)
            m.buildIndex(m.withPlantedClips(docs), dir)
            m.admission(m.plantedRecrawlBatch(docs), dir).toDF()
          })))) { (s, d) =>
      val docs = Tables.documents(s, d)
      mediaAdmissionContract(s, d, AudioDedup, "auddedup", Map.empty,
        graft.MediaFixtures.memo(s, "aud_corpus", d)(AudioDedup.withPlantedClips(docs)),
        graft.MediaFixtures.memo(s, "aud_recrawl", d)(AudioDedup.plantedRecrawlBatch(docs)))
    },

    // multimodal binary-column metadata (columnar arithmetic +
    // typed container-kind walk): media_kind is the crawl-ingest
    // rejection taxonomy — progressive JPEG counted DISTINCTLY from
    // corrupt, per-class planted by doc_id % 5 so the classification
    // is exactly oracled while Spark must walk the markers
    QuerySpec("q_multimodal_meta",
      Sql("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
        "CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS fake_width, " +
        "CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS fake_height, " +
        "CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'jpeg_baseline' " +
        "WHEN 1 THEN 'jpeg_progressive' WHEN 2 THEN 'jpeg_corrupt' " +
        "WHEN 3 THEN 'png' ELSE 'unknown' END AS media_kind " +
        "FROM documents ORDER BY doc_id",
        Some("SELECT doc_id, CAST(octet_length(text) AS BIGINT) AS n_bytes, " +
          "CAST(octet_length(text) % 640 + 1 AS BIGINT) AS fake_width, " +
          "CAST(octet_length(text) % 480 + 1 AS BIGINT) AS fake_height, " +
          "CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'jpeg_baseline' " +
          "WHEN 1 THEN 'jpeg_progressive' WHEN 2 THEN 'jpeg_corrupt' " +
          "WHEN 3 THEN 'png' ELSE 'unknown' END AS media_kind " +
          "FROM documents ORDER BY doc_id"))) { (s, d) =>
      Multimodal.mediaMeta(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    // multimodal batched decode (mapPartitions plumbing path): REAL
    // codecs over planted valid media — PNG rows run the full chunk
    // walk + CRC32 + zlib inflate + 5-filter unfilter pipeline; JPEG
    // rows run the full baseline-sequential pipeline (Huffman decode
    // w/ byte unstuffing, DC prediction, dequant, IDCT, 4:2:0
    // upsample, exact-integer JFIF YCbCr→RGB). Both emit the decoded
    // pixels' per-channel means (exact E6 fixed point via integer
    // division). The oracle recomputes the planted pixel arithmetic
    // independently — per-pixel for PNG, per-8×8-block for JPEG (the
    // planted blocks are DC-constant) — so any codec break (CRC,
    // inflate bounds, filter math, Huffman tables, IDCT, color
    // conversion, segment walk) hash-mismatches
    QuerySpec("q_multimodal_decode",
      Sql("WITH d AS (SELECT doc_id, (doc_id*31+7) % 13 + 4 AS w, " +
        "(doc_id*17+3) % 11 + 3 AS h FROM documents), " +
        "jb AS (SELECT doc_id, w, h, bx, by, " +
        "(doc_id*11 + bx*53 + by*29) % 256 AS yv, " +
        "(doc_id*19+35) % 256 AS cb, (doc_id*23+71) % 256 AS cr, " +
        "(CASE WHEN bx = 0 THEN least(w, 8) ELSE greatest(w - 8, 0) END) * " +
        "(CASE WHEN by = 0 THEN least(h, 8) ELSE greatest(h - 8, 0) END) AS npx " +
        "FROM d CROSS JOIN (VALUES (0,0),(0,1),(1,0),(1,1)) AS blk(bx, by) " +
        "WHERE doc_id % 2 = 1), " +
        "j AS (SELECT doc_id, " +
        "sum(npx * least(255, greatest(0, (1000000*yv + 1402000*(cr-128) " +
        "+ 500000 + 256000000) // 1000000 - 256))) AS sum_r, " +
        "sum(npx * least(255, greatest(0, (1000000*yv - 344136*(cb-128) " +
        "- 714136*(cr-128) + 500000 + 256000000) // 1000000 - 256))) AS sum_g, " +
        "sum(npx * least(255, greatest(0, (1000000*yv + 1772000*(cb-128) " +
        "+ 500000 + 256000000) // 1000000 - 256))) AS sum_b " +
        "FROM jb GROUP BY doc_id) " +
        "SELECT d.doc_id, " +
        "CASE WHEN d.doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format, " +
        "CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, " +
        "CAST((CASE WHEN d.doc_id % 2 = 0 THEN list_aggregate(list_transform(range(w*h), " +
        "i -> (d.doc_id*7 + (i//w)*31 + (i%w)*13) % 256), 'sum') " +
        "ELSE sum_r END) * 1000000 // (w*h*255) AS BIGINT) AS mean_r_e6, " +
        "CAST((CASE WHEN d.doc_id % 2 = 0 THEN list_aggregate(list_transform(range(w*h), " +
        "i -> (d.doc_id*7 + (i//w)*31 + (i%w)*13 + 97) % 256), 'sum') " +
        "ELSE sum_g END) * 1000000 // (w*h*255) AS BIGINT) AS mean_g_e6, " +
        "CAST((CASE WHEN d.doc_id % 2 = 0 THEN list_aggregate(list_transform(range(w*h), " +
        "i -> (d.doc_id*7 + (i//w)*31 + (i%w)*13 + 194) % 256), 'sum') " +
        "ELSE sum_b END) * 1000000 // (w*h*255) AS BIGINT) AS mean_b_e6 " +
        "FROM d LEFT JOIN j ON d.doc_id = j.doc_id ORDER BY d.doc_id",
        Some("WITH d AS (SELECT doc_id, (doc_id*31+7) % 13 + 4 AS w, (doc_id*17+3) % 11 + 3 AS h FROM documents), " +
          "jb AS (SELECT doc_id, w, h, bx, by, " +
          "(doc_id*11 + bx*53 + by*29) % 256 AS yv, " +
          "(doc_id*19+35) % 256 AS cb, (doc_id*23+71) % 256 AS cr, " +
          "(CASE WHEN bx = 0 THEN least(w, 8) ELSE greatest(w - 8, 0) END) * " +
          "(CASE WHEN by = 0 THEN least(h, 8) ELSE greatest(h - 8, 0) END) AS npx " +
          "FROM d CROSS JOIN (SELECT * FROM VALUES (0,0),(0,1),(1,0),(1,1) AS t(bx, by)) blk " +
          "WHERE doc_id % 2 = 1), " +
          "j AS (SELECT doc_id, " +
          "sum(npx * least(255, greatest(0, (1000000*yv + 1402000*(cr-128) " +
          "+ 500000 + 256000000) div 1000000 - 256))) AS sum_r, " +
          "sum(npx * least(255, greatest(0, (1000000*yv - 344136*(cb-128) " +
          "- 714136*(cr-128) + 500000 + 256000000) div 1000000 - 256))) AS sum_g, " +
          "sum(npx * least(255, greatest(0, (1000000*yv + 1772000*(cb-128) " +
          "+ 500000 + 256000000) div 1000000 - 256))) AS sum_b " +
          "FROM jb GROUP BY doc_id) " +
          "SELECT d.doc_id, CASE WHEN d.doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format, " +
          "CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, " +
          "CAST((CASE WHEN d.doc_id % 2 = 0 THEN aggregate(transform(sequence(0, w*h - 1), " +
          "i -> (d.doc_id*7 + (i div w)*31 + (i % w)*13) % 256), 0L, (a, x) -> a + x) " +
          "ELSE sum_r END) * 1000000 div (w*h*255) AS BIGINT) AS mean_r_e6, " +
          "CAST((CASE WHEN d.doc_id % 2 = 0 THEN aggregate(transform(sequence(0, w*h - 1), " +
          "i -> (d.doc_id*7 + (i div w)*31 + (i % w)*13 + 97) % 256), 0L, (a, x) -> a + x) " +
          "ELSE sum_g END) * 1000000 div (w*h*255) AS BIGINT) AS mean_g_e6, " +
          "CAST((CASE WHEN d.doc_id % 2 = 0 THEN aggregate(transform(sequence(0, w*h - 1), " +
          "i -> (d.doc_id*7 + (i div w)*31 + (i % w)*13 + 194) % 256), 0L, (a, x) -> a + x) " +
          "ELSE sum_b END) * 1000000 div (w*h*255) AS BIGINT) AS mean_b_e6 " +
          "FROM d LEFT JOIN j ON d.doc_id = j.doc_id ORDER BY d.doc_id")),
      Plan("mapPartitions-batched decode, zero shuffle: each partition " +
        "streams (doc_id, media) batches through the dependency-free " +
        "full-pixel codecs — PNG via chunk walk + CRC32 + zlib " +
        "inflate + 5-filter unfilter, JPEG via the baseline-" +
        "sequential pipeline (Huffman decode, DC prediction, " +
        "dequant, IDCT, 4:2:0 upsample, exact-integer JFIF " +
        "YCbCr-to-RGB). Per-row CPU, partition-parallel, no driver " +
        "involvement — the multimodal plumbing shape with both " +
        "payload featurizers real.")) { (s, d) =>
      Multimodal.decodeFeatures(Multimodal.withPlantedMedia(Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          expr("CASE WHEN n_px > 0 THEN " +
            "element_at(chan_sums, 1) * 1000000 div (n_px * 255) END").as("mean_r_e6"),
          expr("CASE WHEN n_px > 0 THEN " +
            "element_at(chan_sums, 2) * 1000000 div (n_px * 255) END").as("mean_g_e6"),
          expr("CASE WHEN n_px > 0 THEN " +
            "element_at(chan_sums, 3) * 1000000 div (n_px * 255) END").as("mean_b_e6"))
        .orderBy(col("doc_id"))
    },

    // PROGRESSIVE JPEG decode end-to-end (SOF2 multi-scan: DC
    // successive approximation + refinement, per-component AC band
    // scans with EOB runs): every doc planted as the progressive twin
    // of the baseline fixture, decoded through the full §G.2 path,
    // per-channel means exactly oracled by the planted formulas
    QuerySpec("q_multimodal_progressive",
      // independent arithmetic recomputation of the PLANTED media:
      // format by parity, dims by the plant formulas. PNG rows: the
      // per-channel pixel means in exact E6 fixed point from the
      // planted pixel formula p(x,y,c) = (doc*7 + y*31 + x*13 + c*97) % 256.
      // JPEG rows: per-8×8-block planted luma (DC-constant blocks) ×
      // in-crop block pixel counts, constant chroma, through the exact
      // integer JFIF YCbCr→RGB (the same e6 fixed-point formula the
      // decoder uses — no float drift possible). The Spark side
      // recovers the same values by DECODING the bytes (PNG: chunk
      // walk, CRC32, zlib inflate, 5-filter unfilter; JPEG: Huffman,
      // DC prediction, dequant, IDCT, 4:2:0 upsample, color convert)
      // progressive twin: same planted-block arithmetic as the JPEG
      // half of q_multimodal_decode, over EVERY doc
      Sql("WITH d AS (SELECT doc_id, (doc_id*31+7) % 13 + 4 AS w, " +
        "(doc_id*17+3) % 11 + 3 AS h FROM documents), " +
        "jb AS (SELECT doc_id, w, h, bx, by, " +
        "(doc_id*11 + bx*53 + by*29) % 256 AS yv, " +
        "(doc_id*19+35) % 256 AS cb, (doc_id*23+71) % 256 AS cr, " +
        "(CASE WHEN bx = 0 THEN least(w, 8) ELSE greatest(w - 8, 0) END) * " +
        "(CASE WHEN by = 0 THEN least(h, 8) ELSE greatest(h - 8, 0) END) AS npx " +
        "FROM d CROSS JOIN (VALUES (0,0),(0,1),(1,0),(1,1)) AS blk(bx, by)), " +
        "j AS (SELECT doc_id, " +
        "sum(npx * least(255, greatest(0, (1000000*yv + 1402000*(cr-128) " +
        "+ 500000 + 256000000) // 1000000 - 256))) AS sum_r, " +
        "sum(npx * least(255, greatest(0, (1000000*yv - 344136*(cb-128) " +
        "- 714136*(cr-128) + 500000 + 256000000) // 1000000 - 256))) AS sum_g, " +
        "sum(npx * least(255, greatest(0, (1000000*yv + 1772000*(cb-128) " +
        "+ 500000 + 256000000) // 1000000 - 256))) AS sum_b " +
        "FROM jb GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, " +
        "CAST(sum_r * 1000000 // (w*h*255) AS BIGINT) AS mean_r_e6, " +
        "CAST(sum_g * 1000000 // (w*h*255) AS BIGINT) AS mean_g_e6, " +
        "CAST(sum_b * 1000000 // (w*h*255) AS BIGINT) AS mean_b_e6 " +
        "FROM d JOIN j ON d.doc_id = j.doc_id ORDER BY d.doc_id",
        Some("WITH d AS (SELECT doc_id, (doc_id*31+7) % 13 + 4 AS w, (doc_id*17+3) % 11 + 3 AS h FROM documents), " +
          "jb AS (SELECT doc_id, w, h, bx, by, " +
          "(doc_id*11 + bx*53 + by*29) % 256 AS yv, " +
          "(doc_id*19+35) % 256 AS cb, (doc_id*23+71) % 256 AS cr, " +
          "(CASE WHEN bx = 0 THEN least(w, 8) ELSE greatest(w - 8, 0) END) * " +
          "(CASE WHEN by = 0 THEN least(h, 8) ELSE greatest(h - 8, 0) END) AS npx " +
          "FROM d CROSS JOIN (SELECT * FROM VALUES (0,0),(0,1),(1,0),(1,1) AS t(bx, by)) blk), " +
          "j AS (SELECT doc_id, " +
          "sum(npx * least(255, greatest(0, (1000000*yv + 1402000*(cr-128) " +
          "+ 500000 + 256000000) div 1000000 - 256))) AS sum_r, " +
          "sum(npx * least(255, greatest(0, (1000000*yv - 344136*(cb-128) " +
          "- 714136*(cr-128) + 500000 + 256000000) div 1000000 - 256))) AS sum_g, " +
          "sum(npx * least(255, greatest(0, (1000000*yv + 1772000*(cb-128) " +
          "+ 500000 + 256000000) div 1000000 - 256))) AS sum_b " +
          "FROM jb GROUP BY doc_id) " +
          "SELECT d.doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, " +
          "CAST(sum_r * 1000000 div (w*h*255) AS BIGINT) AS mean_r_e6, " +
          "CAST(sum_g * 1000000 div (w*h*255) AS BIGINT) AS mean_g_e6, " +
          "CAST(sum_b * 1000000 div (w*h*255) AS BIGINT) AS mean_b_e6 " +
          "FROM d JOIN j ON d.doc_id = j.doc_id ORDER BY d.doc_id"))) { (s, d) =>
      Multimodal.decodeFeatures(
          Multimodal.withPlantedProgressive(Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          expr("CASE WHEN n_px > 0 THEN " +
            "element_at(chan_sums, 1) * 1000000 div (n_px * 255) END").as("mean_r_e6"),
          expr("CASE WHEN n_px > 0 THEN " +
            "element_at(chan_sums, 2) * 1000000 div (n_px * 255) END").as("mean_g_e6"),
          expr("CASE WHEN n_px > 0 THEN " +
            "element_at(chan_sums, 3) * 1000000 div (n_px * 255) END").as("mean_b_e6"))
        .orderBy(col("doc_id"))
    },

    // AUDIO decode end-to-end: every doc planted as a complete valid
    // RIFF/WAVE (LIST junk chunk with the even-padding rule, PCM fmt,
    // interleaved 16-bit LE data), decoded through the real chunk
    // walk; sum/sum-of-squares/peak of the signed samples are exact
    // integers, so the oracle replays the planted formula bit for bit
    QuerySpec("q_multimodal_audio",
      // audio: replay the planted-sample formula over an unnested
      // frame×channel range — every aggregate is exact integer math
      Sql("WITH g AS (SELECT doc_id, doc_id % 64 + 16 AS n, doc_id % 2 + 1 AS ch, " +
        "8000 + (doc_id % 3) * 4000 AS rate FROM documents), " +
        "s AS (SELECT doc_id, n, ch, rate, unnest(range(0, n * ch)) AS k FROM g), " +
        "v AS (SELECT doc_id, n, ch, rate, " +
        "(doc_id * 7919 + (k // ch) * 104729 + (k % ch) * 31337) % 65536 - 32768 AS amp FROM s) " +
        "SELECT doc_id, CAST(rate AS BIGINT) AS sample_rate, " +
        "CAST(ch AS BIGINT) AS n_channels, CAST(n AS BIGINT) AS n_frames, " +
        "CAST(sum(amp) AS BIGINT) AS sum_amp, CAST(sum(amp * amp) AS BIGINT) AS sum_sq, " +
        "CAST(max(abs(amp)) AS BIGINT) AS peak_amp " +
        "FROM v GROUP BY 1, 2, 3, 4 ORDER BY doc_id",
        Some("WITH g AS (SELECT doc_id, doc_id % 64 + 16 AS n, doc_id % 2 + 1 AS ch, " +
          "8000 + (doc_id % 3) * 4000 AS rate FROM documents), " +
          "s AS (SELECT doc_id, n, ch, rate, explode(sequence(0, n * ch - 1)) AS k FROM g), " +
          "v AS (SELECT doc_id, n, ch, rate, " +
          "(doc_id * 7919 + (k DIV ch) * 104729 + (k % ch) * 31337) % 65536 - 32768 AS amp FROM s) " +
          "SELECT doc_id, CAST(rate AS BIGINT) AS sample_rate, " +
          "CAST(ch AS BIGINT) AS n_channels, CAST(n AS BIGINT) AS n_frames, " +
          "CAST(sum(amp) AS BIGINT) AS sum_amp, CAST(sum(amp * amp) AS BIGINT) AS sum_sq, " +
          "CAST(max(abs(amp)) AS BIGINT) AS peak_amp " +
          "FROM v GROUP BY doc_id, rate, ch, n ORDER BY doc_id"))) { (s, d) =>
      Multimodal.audioFeatures(
          Multimodal.withPlantedAudio(Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("sample_rate"), col("n_channels"),
          col("n_frames"), col("sum_amp"), col("sum_sq"), col("peak_amp"))
        .orderBy(col("doc_id"))
    },

    // multimodal batched resize (resolution-normalize step) on REAL
    // decoded pixels: PNG rows are fully decoded (inflate+unfilter),
    // JPEG rows baseline-decoded (Huffman+IDCT+color convert), then
    // nearest-neighbor-resampled to 16×16 RGB; the oracle replays
    // the exact resample index arithmetic over the planted pixel /
    // planted block formulas, so the byte_sum check covers decode
    // AND resample end to end for BOTH formats
    QuerySpec("q_multimodal_resize",
      // the oracle replays the nearest-neighbor resample index math
      // over the planted content: out i → (c = i%3, X = (i//3)%16,
      // Y = i//48) sampled at (x = X·w//16, y = Y·h//16). Even docs
      // (PNG) use the per-pixel planted formula; odd docs (JPEG) use
      // the per-8×8-block planted luma + constant chroma through the
      // exact integer JFIF conversion — so the byte_sum verifies real
      // inflate+unfilter resp. Huffman+IDCT+color-convert, plus the
      // resample, end to end for both formats
      Sql("WITH d AS (SELECT doc_id, (doc_id*31+7) % 13 + 4 AS w, " +
        "(doc_id*17+3) % 11 + 3 AS h FROM documents) " +
        "SELECT doc_id, CAST(768 AS BIGINT) AS n_pixels, " +
        "CAST(list_aggregate(list_transform(range(768), i -> " +
        "CASE WHEN doc_id % 2 = 0 THEN " +
        "(doc_id*7 + (((i//48) * h) // 16) * 31 + ((((i//3) % 16) * w) // 16) * 13 " +
        "+ (i % 3) * 97) % 256 " +
        "ELSE least(255, greatest(0, (1000000*((doc_id*11 " +
        "+ (((((i//3) % 16) * w) // 16) // 8)*53 " +
        "+ ((((i//48) * h) // 16) // 8)*29) % 256) " +
        "+ CASE WHEN i % 3 = 0 THEN 1402000*((doc_id*23+71) % 256 - 128) " +
        "WHEN i % 3 = 1 THEN -344136*((doc_id*19+35) % 256 - 128) " +
        "- 714136*((doc_id*23+71) % 256 - 128) " +
        "ELSE 1772000*((doc_id*19+35) % 256 - 128) END " +
        "+ 500000 + 256000000) // 1000000 - 256)) END), 'sum') AS BIGINT) AS byte_sum " +
        "FROM d ORDER BY doc_id",
        Some("WITH d AS (SELECT doc_id, (doc_id*31+7) % 13 + 4 AS w, (doc_id*17+3) % 11 + 3 AS h " +
          "FROM documents) " +
          "SELECT doc_id, CAST(768 AS BIGINT) AS n_pixels, " +
          "CAST(aggregate(transform(sequence(0, 767), i -> " +
          "CASE WHEN doc_id % 2 = 0 THEN " +
          "(doc_id*7 + (((i div 48) * h) div 16) * 31 + ((((i div 3) % 16) * w) div 16) * 13 " +
          "+ (i % 3) * 97) % 256 " +
          "ELSE least(255, greatest(0, (1000000*((doc_id*11 " +
          "+ (((((i div 3) % 16) * w) div 16) div 8)*53 " +
          "+ ((((i div 48) * h) div 16) div 8)*29) % 256) " +
          "+ CASE WHEN i % 3 = 0 THEN 1402000*((doc_id*23+71) % 256 - 128) " +
          "WHEN i % 3 = 1 THEN -344136*((doc_id*19+35) % 256 - 128) " +
          "- 714136*((doc_id*23+71) % 256 - 128) " +
          "ELSE 1772000*((doc_id*19+35) % 256 - 128) END " +
          "+ 500000 + 256000000) div 1000000 - 256)) END), 0L, (a, x) -> a + x) AS BIGINT) AS byte_sum " +
          "FROM d ORDER BY doc_id"))) { (s, d) =>
      import s.implicits._
      Multimodal.resizeTo(Multimodal.withPlantedMedia(Tables.documents(s, d)),
          w = 16, h = 16)
        .filter(_.pixels.nonEmpty)
        .map(r => (r.doc_id, r.pixels.length.toLong,
          r.pixels.foldLeft(0L)((acc, b) => acc + (b & 0xff))))
        .toDF("doc_id", "n_pixels", "byte_sum")
        .orderBy(col("doc_id"))
    },

    // VIDEO end-to-end: every doc planted as a complete valid
    // RIFF/AVI container (real avih header, LIST movi, 00dc chunks
    // with the even-padding rule) whose frames are MJPEG — temporal
    // subsample every 2nd frame through the REAL chunk walk, then
    // full baseline-JPEG decode of each sampled frame; per-frame
    // channel means exactly oracled by the planted (doc_id, frame)
    // arithmetic (frame seed stride 8·11·13 keeps geometry constant
    // within a stream while the content formulas vary per frame)
    QuerySpec("q_multimodal_video",
      // per sampled (doc, frame): the q_multimodal_decode JPEG block
      // arithmetic replayed at the frame seed doc_id + f·1144 — the
      // stride keeps w/h/pad constant within a stream (1144 ≡ 0 mod
      // 8, 11, 13) while luma/chroma vary per frame
      Sql("WITH d AS (SELECT doc_id, (doc_id*31+7) % 13 + 4 AS w, " +
        "(doc_id*17+3) % 11 + 3 AS h, doc_id % 5 + 3 AS nf FROM documents), " +
        "sel AS (SELECT doc_id, w, h, nf, f, doc_id + f*1144 AS fid " +
        "FROM (SELECT doc_id, w, h, nf, unnest(range(nf)) AS f FROM d) " +
        "WHERE f % 2 = 0), " +
        "jb AS (SELECT doc_id, f, nf, w, h, " +
        "(fid*11 + bx*53 + by*29) % 256 AS yv, " +
        "(fid*19+35) % 256 AS cb, (fid*23+71) % 256 AS cr, " +
        "(CASE WHEN bx = 0 THEN least(w, 8) ELSE greatest(w - 8, 0) END) * " +
        "(CASE WHEN by = 0 THEN least(h, 8) ELSE greatest(h - 8, 0) END) AS npx " +
        "FROM sel CROSS JOIN (VALUES (0,0),(0,1),(1,0),(1,1)) AS blk(bx, by)), " +
        "j AS (SELECT doc_id, f, nf, w, h, " +
        "sum(npx * least(255, greatest(0, (1000000*yv + 1402000*(cr-128) " +
        "+ 500000 + 256000000) // 1000000 - 256))) AS sum_r, " +
        "sum(npx * least(255, greatest(0, (1000000*yv - 344136*(cb-128) " +
        "- 714136*(cr-128) + 500000 + 256000000) // 1000000 - 256))) AS sum_g, " +
        "sum(npx * least(255, greatest(0, (1000000*yv + 1772000*(cb-128) " +
        "+ 500000 + 256000000) // 1000000 - 256))) AS sum_b " +
        "FROM jb GROUP BY doc_id, f, nf, w, h) " +
        "SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, " +
        "CAST(nf AS BIGINT) AS n_frames, " +
        "CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, " +
        "CAST(sum_r * 1000000 // (w*h*255) AS BIGINT) AS mean_r_e6, " +
        "CAST(sum_g * 1000000 // (w*h*255) AS BIGINT) AS mean_g_e6, " +
        "CAST(sum_b * 1000000 // (w*h*255) AS BIGINT) AS mean_b_e6 " +
        "FROM j ORDER BY doc_id, frame_idx",
        Some("WITH d AS (SELECT doc_id, (doc_id*31+7) % 13 + 4 AS w, " +
          "(doc_id*17+3) % 11 + 3 AS h, doc_id % 5 + 3 AS nf FROM documents), " +
          "sel AS (SELECT doc_id, w, h, nf, f, doc_id + f*1144 AS fid " +
          "FROM (SELECT doc_id, w, h, nf, explode(sequence(0, nf - 1)) AS f FROM d) " +
          "WHERE f % 2 = 0), " +
          "jb AS (SELECT doc_id, f, nf, w, h, " +
          "(fid*11 + bx*53 + by*29) % 256 AS yv, " +
          "(fid*19+35) % 256 AS cb, (fid*23+71) % 256 AS cr, " +
          "(CASE WHEN bx = 0 THEN least(w, 8) ELSE greatest(w - 8, 0) END) * " +
          "(CASE WHEN by = 0 THEN least(h, 8) ELSE greatest(h - 8, 0) END) AS npx " +
          "FROM sel CROSS JOIN (SELECT * FROM VALUES (0,0),(0,1),(1,0),(1,1) AS t(bx, by)) blk), " +
          "j AS (SELECT doc_id, f, nf, w, h, " +
          "sum(npx * least(255, greatest(0, (1000000*yv + 1402000*(cr-128) " +
          "+ 500000 + 256000000) div 1000000 - 256))) AS sum_r, " +
          "sum(npx * least(255, greatest(0, (1000000*yv - 344136*(cb-128) " +
          "- 714136*(cr-128) + 500000 + 256000000) div 1000000 - 256))) AS sum_g, " +
          "sum(npx * least(255, greatest(0, (1000000*yv + 1772000*(cb-128) " +
          "+ 500000 + 256000000) div 1000000 - 256))) AS sum_b " +
          "FROM jb GROUP BY doc_id, f, nf, w, h) " +
          "SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, " +
          "CAST(nf AS BIGINT) AS n_frames, " +
          "CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, " +
          "CAST(sum_r * 1000000 div (w*h*255) AS BIGINT) AS mean_r_e6, " +
          "CAST(sum_g * 1000000 div (w*h*255) AS BIGINT) AS mean_g_e6, " +
          "CAST(sum_b * 1000000 div (w*h*255) AS BIGINT) AS mean_b_e6 " +
          "FROM j ORDER BY doc_id, frame_idx")),
      Plan("Video ingest end-to-end with zero shuffle: the RIFF/AVI " +
        "container walk, the every-2nd-frame temporal subsample, and " +
        "the per-frame baseline-JPEG decode are ONE typed flatMap " +
        "over the binary-column scan — each row expands to its " +
        "sampled frames' feature rows in place, so the stage is " +
        "embarrassingly parallel and the only exchange is the gate's " +
        "output sort. At 100 TB the same shape holds: frame decode " +
        "cost rides the scan tasks, and the sampled-frame rows (a " +
        "few dozen bytes each) are all that survives into downstream " +
        "shuffles.")) { (s, d) =>
      Multimodal.videoFrames(
          Multimodal.withPlantedVideo(Tables.documents(s, d)), everyN = 2)
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("n_frames"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          expr("element_at(chan_sums, 1) * 1000000 div (n_px * 255)")
            .as("mean_r_e6"),
          expr("element_at(chan_sums, 2) * 1000000 div (n_px * 255)")
            .as("mean_g_e6"),
          expr("element_at(chan_sums, 3) * 1000000 div (n_px * 255)")
            .as("mean_b_e6"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // multimodal frame sampling (video-pipeline temporal subsample):
    // frame COUNTS are byte-length arithmetic → oracle-checkable,
    // while the typed path carries the sampled frame payloads
    QuerySpec("q_multimodal_frames",
      Sql("SELECT doc_id, " +
        "CAST(ceil(octet_length(encode(text))/256.0) AS BIGINT) AS n_frames, " +
        "CAST(ceil(ceil(octet_length(encode(text))/256.0)/4.0) AS BIGINT) AS n_sampled " +
        "FROM documents ORDER BY doc_id",
        Some("SELECT doc_id, CAST(ceil(octet_length(text)/256.0) AS BIGINT) AS n_frames, " +
          "CAST(ceil(ceil(octet_length(text)/256.0)/4.0) AS BIGINT) AS n_sampled " +
          "FROM documents ORDER BY doc_id"))) { (s, d) =>
      Multimodal.sampleFrames(Multimodal.withBinary(Tables.documents(s, d)),
          frameBytes = 256, everyN = 4)
        .toDF()
        .select(col("doc_id"), col("n_frames"), col("n_sampled"))
        .orderBy(col("doc_id"))
    }
  )
}
