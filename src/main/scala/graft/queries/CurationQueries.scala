package graft.queries

import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.operators.{AudioDedup, Curation, ImageDedup, ModelSelection, Multimodal, Sampling, TextOps, VideoDedup}
import QuerySpec._
import Common._

/** Corpus curation over `documents` (SURVEY.md §2.5): selection,
  * sampling, training order and mixture budgets, and the end-to-end
  * curate chains behind their quality, host and media gates. */
object CurationQueries {

  /** q_curate_media's planted multimodal corpus: docs in the pinned
    * stratum (doc_id < 2000 — the panel bound every incremental
    * contract key uses; the per-modality keys already prove
    * full-corpus dedup scaling) carry media — ids ≡0 (mod 20) the
    * source image/audio/video triple, and one re-encoded near-dup
    * twin modality per ≡4/≡9/≡14 carrier (of doc id−4/−9/−14's media
    * respectively — always an earlier ≡0 source, so keep-min drops
    * exactly the carriers). A typed zero-shuffle pass;
    * parquet-memoized by the key (graft.MediaFixtures). */
  private def curateMediaFixture(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val none = Option.empty[Array[Byte]]
        (if (id < 2000) id % 20 else -1L) match {
          case 0 => (id,
            Some(Multimodal.plantHeader(id, Array.emptyByteArray)),
            Some(Multimodal.plantWav(id)),
            Some(Multimodal.plantAvi(id)))
          case 4 => (id, ImageDedup.reencodedTwin(
            Multimodal.plantHeader(id - 4, Array.emptyByteArray)),
            none, none)
          case 9 => (id, none, none,
            VideoDedup.reencodedTwin(Multimodal.plantAvi(id - 9)))
          case 14 => (id, none,
            AudioDedup.reencodedTwin(Multimodal.plantWav(id - 14)), none)
          case _ => (id, none, none, none)
        }
      })
      .toDF("doc_id", "img", "aud", "vid")
  }

  /** The shared curation-chain TAIL (quality/language gates → exact
    * dedup → decontaminate vs the id%10==0 holdout → rebalance → pack
    * report): everything after the `cand` CTE, which the caller
    * prepends — `q_curate_e2e` states `cand` as the eval holdout
    * alone, `q_curate_hosts` as the corpus behind the
    * host-governance gate. */
  private val curateTailSql: String =
    s"gated AS (SELECT doc_id, source, n_chars, text, md5($norm) AS nk FROM cand " +
      s"WHERE $quality >= 400000 AND $langPred = 'en'), " +
      "ded AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY nk ORDER BY doc_id) AS rn FROM gated) WHERE rn = 1), " +
      s"ev AS (SELECT DISTINCT s FROM documents LATERAL VIEW explode($shingles) ex AS s WHERE doc_id % 10 = 0), " +
      s"trsh AS (SELECT doc_id, s FROM ded LATERAL VIEW explode($shingles) ex AS s), " +
      "ov AS (SELECT trsh.doc_id, count(*) AS n_sh, count(ev.s) AS n_ov FROM trsh LEFT JOIN ev ON trsh.s = ev.s GROUP BY 1), " +
      "bad AS (SELECT doc_id FROM ov WHERE n_ov * 1000000 >= 700000 * n_sh), " +
      "clean AS (SELECT * FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM bad)), " +
      "cnt AS (SELECT source, count(*) AS n FROM clean GROUP BY 1), " +
      "rates AS (SELECT source, least(1000, 15000 div n) AS rate FROM cnt), " +
      "bal AS (SELECT c.* FROM clean c JOIN rates USING (source) " +
      "WHERE ((doc_id % 1000003) * 1103515245 + 12345) % 1000 < rate), " +
      "tok AS (SELECT source, CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) AS n_tok FROM bal) " +
      "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
      "CAST((sum(n_tok) + 2047) div 2048 AS BIGINT) AS n_chunks FROM tok GROUP BY source ORDER BY source"

  val specs: Seq[QuerySpec] = Seq(
    // deterministic stratified sample: keep 30% of English docs, 10%
    // of every other language — arithmetic-hash cut, shuffle-free,
    // bit-reproducible across engines (the oracle recomputes it)
    QuerySpec("q_sample_stratified",
      Sql("SELECT doc_id, lang FROM documents " +
        "WHERE ((doc_id % 1000003) * 1103515245 + 12345) % 1000 " +
        "< CASE WHEN lang = 'en' THEN 300 ELSE 100 END ORDER BY doc_id"),
      Plan("The LCG bucket predicate is codegen'd scalar arithmetic fused " +
        "into the scan stage — no shuffle, no state, ReadSchema pruned " +
        "to (doc_id, lang); the sample is one streaming pass at any " +
        "scale and membership is auditable from the id alone.")) { (s, d) =>
      Sampling.stratified(Tables.documents(s, d), idCol = "doc_id",
          strataCol = "lang", rates = Map("en" -> 0.3), defaultRate = 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // composed corpus selection: quality gate + lang gate + exact
    // dedup on normalized text + per-source mixture report
    QuerySpec("q_corpus_select",
      Sql(s"WITH kept AS (SELECT doc_id, source, n_chars, md5($normSql) AS nk " +
        s"FROM documents WHERE $qualitySql >= 400000 AND $langPredSql = 'en'), " +
        "ded AS (SELECT *, row_number() OVER (PARTITION BY nk ORDER BY doc_id) AS rn " +
        "FROM kept) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT)) AS BIGINT) AS n_tokens_est " +
        "FROM ded WHERE rn = 1 GROUP BY source ORDER BY source",
        Some(s"WITH kept AS (SELECT doc_id, source, n_chars, md5($norm) AS nk FROM documents " +
          s"WHERE $quality >= 400000 AND $langPred = 'en'), " +
          "ded AS (SELECT *, row_number() OVER (PARTITION BY nk ORDER BY doc_id) AS rn FROM kept) " +
          "SELECT source, count(*) AS n_docs, " +
          "CAST(sum(CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT)) AS BIGINT) AS n_tokens_est " +
          "FROM ded WHERE rn = 1 GROUP BY source ORDER BY source")),
      Plan("All per-row gates (quality, lang, normalize, md5) are one " +
        "codegen'd scan projection; only SURVIVING rows shuffle — " +
        "first on norm_key for the keep-min window (WindowGroupLimit " +
        "prunes losers map-side), then as per-source partial " +
        "aggregates. Raw text crosses the wire at most once, post-" +
        "filter.")) { (s, d) =>
      TextOps.corpusSelect(Tables.documents(s, d)).orderBy(col("source"))
    },

    // DSIR-style selection: hashed-unigram log-likelihood ratio of
    // the src0 target domain vs the raw corpus; top-20 weighted docs
    QuerySpec("q_select_dsir",
      Sql("WITH toks AS (SELECT doc_id, source = 'src0' AS is_t, " +
        "('0x' || substr(md5(unnest(string_split(text,' '))), 1, 6))::BIGINT % 64 AS b " +
        "FROM documents), " +
        "m AS (SELECT b, count(*) AS nr, " +
        "sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS nt FROM toks GROUP BY 1), " +
        "tot AS (SELECT sum(nr) AS tr, sum(nt) AS tt FROM m), " +
        "lr AS (SELECT b, CAST(floor((ln((nt + 1.0) / (tt + 64)) " +
        "- ln((nr + 1.0) / (tr + 64))) * 1e9) AS BIGINT) AS lr_e9 " +
        "FROM m CROSS JOIN tot) " +
        "SELECT doc_id, count(*) AS n_tokens, CAST(sum(lr_e9) AS BIGINT) AS w_e9 " +
        "FROM toks JOIN lr USING (b) " +
        "GROUP BY doc_id ORDER BY w_e9 DESC, doc_id LIMIT 20",
        Some(s"WITH toks AS (SELECT doc_id, source = 'src0' AS is_t, " +
          "CAST(conv(substring(md5(tok), 1, 6), 16, 10) AS BIGINT) % 64 AS b " +
          s"FROM documents LATERAL VIEW explode($toks) u AS tok), " +
          "m AS (SELECT b, count(*) AS nr, " +
          "sum(CASE WHEN is_t THEN 1L ELSE 0L END) AS nt FROM toks GROUP BY 1), " +
          "tot AS (SELECT sum(nr) AS tr, sum(nt) AS tt FROM m), " +
          "lr AS (SELECT b, CAST(floor((ln((nt + 1.0D) / (tt + 64)) " +
          "- ln((nr + 1.0D) / (tr + 64))) * 1e9) AS BIGINT) AS lr_e9 " +
          "FROM m CROSS JOIN tot) " +
          "SELECT doc_id, count(*) AS n_tokens, sum(lr_e9) AS w_e9 " +
          "FROM toks JOIN lr USING (b) " +
          "GROUP BY doc_id ORDER BY w_e9 DESC, doc_id LIMIT 20")),
      Plan("ONE token explode serves both distribution fits and the " +
        "scoring: the hashed model is a conditional aggregate " +
        "(count + count-if-target) over the same rows, collapsing to " +
        "exactly `buckets` rows that broadcast back with the two " +
        "smoothing totals. The corpus-sized movement is a single " +
        "map-side-combined groupBy(doc_id) of integer partial sums, " +
        "and top-k is TakeOrdered (per-partition heap), never a " +
        "global sort of a 100 TB corpus.")) { (s, d) =>
      ModelSelection.dsirWeights(Tables.documents(s, d),
        isTarget = col("source") === "src0")
    },

    // CCNet/fastText-style TRAINED quality classifier — the learned
    // linear rung between the rule gates and LM scoring: a 40%
    // stratum plants a deterministic boilerplate tail scaled to doc
    // length (the spam phrase a fastText filter learns), the
    // hashed-unigram + sketch-SGD logistic separator trains on the
    // planted labels, and the fitted model must reach ≥90% training
    // accuracy — the q_logistic_train contract over documents
    QuerySpec("q_quality_classifier",
      // the fitted separator is engine-side (deterministic GD); n is
      // the training-row count, the accuracy contract a boolean
      Sql("SELECT CAST(count(*) AS BIGINT) AS n, TRUE AS acc_ok FROM documents"),
      Plan(None,
        Some(Internal("internal: the featurize frame every " +
            "training iteration and the scoring pass share — one tokenize " +
            "explode + ONE hash aggregation with 64 codegen'd conditional " +
            "sums (no pivot shuffle, no UDF); training itself exchanges " +
            "only 64-dim gradients through treeAggregate, invisible to SQL " +
            "by design.",
          (s, d, _) => graft.operators.ModelSelection.hashedFeatures(
            graft.Tables.documents(s, d)))))) { (s, d) =>
      val spam = " click here free offer subscribe now winner prize claim bonus"
      val docs = Tables.documents(s, d)
      // boilerplate mass ∝ length so the marker FREQUENCY is a
      // constant ~20% of tokens at any doc size (a fixed tail would
      // fade into long docs and the separator would track length,
      // not content)
      val planted = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) < 2,
          concat(col("text"), repeat(lit(spam),
            (col("n_chars") / 200).cast("int") + 1)))
          .otherwise(col("text")).as("text"))
      val (m, feats) = ModelSelection.trainQualityClassifier(planted,
        labelCol = pmod(col("doc_id"), lit(5)) >= 2)
      // row-sized: the one accuracy row, materialized before `feats`
      // is released
      try Materialize.barrier(graft.ml.SketchLogisticRegression.binaryAccuracy(m, feats)
        .select(col("n"), (col("acc_e6") >= 900000L).as("acc_ok")))
      finally Materialize.release(feats)
    },

    // deterministic per-group reservoir: exactly 5 docs per source
    // ranked by the LCG key (vs rate-based expected counts) — the
    // "k examples per source" inspection/eval cut, WindowGroupLimit
    // pre-prunes map-side
    QuerySpec("q_sample_group",
      Sql("WITH r AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source " +
        "ORDER BY ((doc_id % 1000003) * 1103515245 + 12345) % 1000003, doc_id) AS rk " +
        "FROM documents) " +
        "SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5 " +
        "ORDER BY source, rk"),
      Plan("Per-group rank filter runs with WindowGroupLimit: each map " +
        "task pre-prunes to its local top k before the exchange, so " +
        "the shuffle carries ≤ k·partitions rows per group — the " +
        "fixed-count per-source cut costs one bounded exchange, " +
        "never a full group sort.")) { (s, d) =>
      Sampling.perGroupSample(Tables.documents(s, d), idCol = "doc_id",
          groupCol = "source", k = 5)
        .select(col("source"), col("doc_id"), col("rk").cast("long").as("rk"))
        .orderBy(col("source"), col("rk"))
    },

    // deterministic training-order shuffle: LCG order key → shard
    // (8) → in-shard position; the reproducible global shuffle +
    // sharding a run applies before packing
    QuerySpec("q_train_order",
      Sql("WITH k AS (SELECT doc_id, " +
        "((doc_id % 1000003) * 1103515245 + 12345) % 1000003 AS okey FROM documents) " +
        "SELECT doc_id, okey, okey % 8 AS shard, " +
        "CAST(row_number() OVER (PARTITION BY okey % 8 ORDER BY okey, doc_id) - 1 " +
        "AS BIGINT) AS pos FROM k ORDER BY doc_id"),
      Plan("The order key and shard are per-row LCG arithmetic on the " +
        "scan (auditable from the id alone); the only exchange is the " +
        "hash partition on shard + in-partition sort for the position " +
        "window — a 100 TB global shuffle becomes nShards independent " +
        "sorts, never a single-partition global ordering.")) { (s, d) =>
      Sampling.trainOrder(Tables.documents(s, d), idCol = "doc_id", nShards = 8)
        .select(col("doc_id"), col("okey"), col("shard"), col("pos"))
        .orderBy(col("doc_id"))
    },

    // END-TO-END curation: hold out eval (doc_id % 10 == 0) → quality
    // + lang gates → normalized exact dedup → decontaminate vs eval
    // shingles → source rebalance (cap 15 expected/source) → pack to
    // 2048-token sequences. The oracle independently re-derives every
    // stage in SQL and cross-checks the packing tiling invariant
    // (distinct chunks == ceil(total_tokens/seqLen))
    QuerySpec("q_curate_e2e",
      Sql(s"WITH cand AS (SELECT * FROM documents WHERE doc_id % 10 <> 0), " +
        s"gated AS (SELECT doc_id, source, n_chars, text, md5($normSql) AS nk " +
        s"FROM cand WHERE $qualitySql >= 400000 AND $langPredSql = 'en'), " +
        "ded AS (SELECT * FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY nk ORDER BY doc_id) AS rn FROM gated) WHERE rn = 1), " +
        s"ev AS (SELECT DISTINCT unnest($shinglesSql) AS s " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        s"trsh AS (SELECT doc_id, unnest($shinglesSql) AS s FROM ded), " +
        "ov AS (SELECT trsh.doc_id, count(*) AS n_sh, count(ev.s) AS n_ov " +
        "FROM trsh LEFT JOIN ev ON trsh.s = ev.s GROUP BY 1), " +
        "bad AS (SELECT doc_id FROM ov WHERE n_ov * 1000000 >= 700000 * n_sh), " +
        "clean AS (SELECT * FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM bad)), " +
        "cnt AS (SELECT source, count(*) AS n FROM clean GROUP BY 1), " +
        "rates AS (SELECT source, least(1000, 15000 // n) AS rate FROM cnt), " +
        "bal AS (SELECT c.* FROM clean c JOIN rates USING (source) " +
        "WHERE ((doc_id % 1000003) * 1103515245 + 12345) % 1000 < rate), " +
        "tok AS (SELECT source, CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) " +
        "AS n_tok FROM bal) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
        "CAST((sum(n_tok) + 2047) // 2048 AS BIGINT) AS n_chunks " +
        "FROM tok GROUP BY source ORDER BY source",
        Some(s"WITH cand AS (SELECT * FROM documents WHERE doc_id % 10 <> 0), " +
          curateTailSql)),
      Plan("Seven stages, three corpus-sized exchanges: the gates are " +
        "per-row expressions on the scan; eval exclusion and the " +
        "contaminated-id drop are broadcast anti-joins; rebalance is " +
        "a broadcast-rates filter. Only the dedup window (norm_key), " +
        "the shingle window (doc_id), and the packing window " +
        "(source) shuffle corpus-sized data — each keyed, none " +
        "all-pairs, so the composition scales exactly as its worst " +
        "single stage.")) { (s, d) =>
      val docs = Tables.documents(s, d)
      // contamination threshold 70%: the fixture corpus is
      // template-generated, so the BASE overlap with an eval set
      // drawn from it grows with eval size (~9% at sf0.01, ~61% at
      // sf0.1) — a low threshold saturates and empties the corpus at
      // scale, while 70% isolates genuine near-copies of eval docs
      // at every sf
      Curation.curate(docs,
          evalDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          contamThresholdE6 = 700000L)
        .orderBy(col("source"))
    },

    // curation with the HOST-governance gate composed in (how crawl
    // pipelines consume q_url_canon's report): planted URLs give the
    // even-id "-a" host of every source an alias-farm shape (one
    // canonical page under per-id tracking aliases → dup pressure
    // ~100%) while "-b" hosts spread over 700k canonical combos
    // (pressure ~0% at every sf); hosts at ≥50% alias pressure drop
    // WHOLE before the doc-level gates, then the full curate chain
    // runs on the survivors. The oracle independently re-derives the
    // plant, the canonical forms (arithmetically — a STRONGER check
    // than replaying the regexes), the host report, the gate, and
    // every curation stage
    QuerySpec("q_curate_hosts",
      // host gate + every curate stage re-derived: the canonical URL
      // is computed ARITHMETICALLY from the plant (the only transform
      // the plant triggers is utm stripping), independent of the
      // engine's regex canonicalizer
      Sql(s"WITH c AS (SELECT doc_id, source, " +
        "source || (CASE WHEN doc_id % 2 = 0 THEN '-a' ELSE '-b' END) " +
        "|| '.example.com' AS host, " +
        "'https://' || source || " +
        "(CASE WHEN doc_id % 2 = 0 THEN '-a' ELSE '-b' END) || '.example.com' || " +
        "(CASE WHEN doc_id % 2 = 0 THEN '/art/0?id=0' " +
        "ELSE '/art/' || CAST(doc_id % 100000 AS VARCHAR) " +
        "|| '?id=' || CAST(doc_id % 7 AS VARCHAR) END) AS canon FROM documents), " +
        "hr AS (SELECT host, count(*) AS n_urls, " +
        "count(DISTINCT canon) AS n_canon FROM c GROUP BY 1), " +
        "bad AS (SELECT host FROM hr " +
        "WHERE (n_urls - n_canon) * 1000000 >= n_urls * 500000), " +
        "d2 AS (SELECT d.* FROM documents d JOIN c USING (doc_id) " +
        "WHERE c.host NOT IN (SELECT host FROM bad)), " +
        "cand AS (SELECT * FROM d2 WHERE doc_id % 10 <> 0), " +
        s"gated AS (SELECT doc_id, source, n_chars, text, md5($normSql) AS nk " +
        s"FROM cand WHERE $qualitySql >= 400000 AND $langPredSql = 'en'), " +
        "ded AS (SELECT * FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY nk ORDER BY doc_id) AS rn FROM gated) WHERE rn = 1), " +
        s"ev AS (SELECT DISTINCT unnest($shinglesSql) AS s " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        s"trsh AS (SELECT doc_id, unnest($shinglesSql) AS s FROM ded), " +
        "ov AS (SELECT trsh.doc_id, count(*) AS n_sh, count(ev.s) AS n_ov " +
        "FROM trsh LEFT JOIN ev ON trsh.s = ev.s GROUP BY 1), " +
        "bad2 AS (SELECT doc_id FROM ov WHERE n_ov * 1000000 >= 700000 * n_sh), " +
        "clean AS (SELECT * FROM ded " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM bad2)), " +
        "cnt AS (SELECT source, count(*) AS n FROM clean GROUP BY 1), " +
        "rates AS (SELECT source, least(1000, 15000 // n) AS rate FROM cnt), " +
        "bal AS (SELECT c2.* FROM clean c2 JOIN rates USING (source) " +
        "WHERE ((doc_id % 1000003) * 1103515245 + 12345) % 1000 < rate), " +
        "tok AS (SELECT source, CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) " +
        "AS n_tok FROM bal) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
        "CAST((sum(n_tok) + 2047) // 2048 AS BIGINT) AS n_chunks " +
        "FROM tok GROUP BY source ORDER BY source",
        // the e2e chain behind the host-governance gate — the `cand` CTE
        // is the corpus minus over-pressure hosts minus the eval holdout;
        // everything downstream is the shared tail verbatim
        Some("WITH c AS (SELECT doc_id, source, " +
          "concat(source, CASE WHEN doc_id % 2 = 0 THEN '-a' ELSE '-b' END, '.example.com') AS host, " +
          "concat('https://', source, CASE WHEN doc_id % 2 = 0 THEN '-a' ELSE '-b' END, '.example.com', " +
          "CASE WHEN doc_id % 2 = 0 THEN '/art/0?id=0' " +
          "ELSE concat('/art/', CAST(doc_id % 100000 AS STRING), '?id=', CAST(doc_id % 7 AS STRING)) END) AS canon " +
          "FROM documents), " +
          "hr AS (SELECT host, count(*) AS n_urls, count(DISTINCT canon) AS n_canon FROM c GROUP BY 1), " +
          "badh AS (SELECT host FROM hr WHERE (n_urls - n_canon) * 1000000 >= n_urls * 500000), " +
          "d2 AS (SELECT d.* FROM documents d JOIN c USING (doc_id) " +
          "WHERE c.host NOT IN (SELECT host FROM badh)), " +
          "cand AS (SELECT * FROM d2 WHERE doc_id % 10 <> 0), " +
          curateTailSql)),
      Plan("The host gate costs one per-row codegen'd canonicalization " +
        "projection + one |hosts|-row hash aggregation, folded back " +
        "as a BROADCAST anti-join on the doc's host — the curate " +
        "chain behind it keeps q_curate_e2e's single-shuffle-per-" +
        "stage skeleton with exactly one extra BroadcastHashJoin, " +
        "so at 100 TB host governance is free relative to the " +
        "tokenize passes it gates.")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val id = col("doc_id")
      val even = pmod(id, lit(2)) === 0
      val url = concat(lit("https://"), col("source"),
        when(even, lit("-a")).otherwise(lit("-b")), lit(".example.com"),
        when(even, lit("/art/0"))
          .otherwise(concat(lit("/art/"), pmod(id, lit(100000)).cast("string"))),
        when(even, lit("?id=0"))
          .otherwise(concat(lit("?id="), pmod(id, lit(7)).cast("string"))),
        when(pmod(id, lit(3)) === 0, lit("&utm_source=feed")).otherwise(lit("")))
      Curation.curateWithHostGate(docs,
          urls = docs.select(id, url.as("url")),
          evalDocs = docs.filter(pmod(id, lit(10)) === 0),
          contamThresholdE6 = 700000L) // the q_curate_e2e threshold rationale
        .orderBy(col("source"))
    },

    // curation with the MEDIA-governance gate composed in (the
    // multimodal twin of q_curate_hosts): pinned-stratum docs
    // (doc_id < 2000, the panel bound every incremental contract key
    // uses) carry planted media — ids ≡0 (mod 20) a source
    // image+audio+video triple, ids ≡4 a re-encoded IMAGE twin of doc
    // id−4's image, ids ≡9 a re-encoded VIDEO twin of id−9's stream,
    // ids ≡14 a re-encoded AUDIO twin of id−14's clip. All three
    // modality dedups run over their media-carrying docs; docs whose
    // media fell to an earlier doc's (exactly the ≡4/≡9/≡14 carriers
    // — sources keep, min-id wins) drop WHOLE before the doc-level
    // chain. The oracle re-derives the media verdicts arithmetically
    // from the plant plus every downstream curation stage
    QuerySpec("q_curate_media",
      // media gate + every curate stage re-derived: the planted media
      // verdicts are pure doc_id arithmetic (≡4/≡9/≡14 carriers drop to
      // their ≡0 sources; min-id keeps the source), so the gate is an
      // exact residue filter ahead of the shared chain — any wrong
      // verdict (missed twin, false drop) shifts the per-source report
      // and fails the hash compare
      Sql(s"WITH cand AS (SELECT * FROM documents " +
        "WHERE (doc_id % 20 NOT IN (4, 9, 14) OR doc_id >= 2000) " +
        "AND doc_id % 10 <> 0), " +
        s"gated AS (SELECT doc_id, source, n_chars, text, md5($normSql) AS nk " +
        s"FROM cand WHERE $qualitySql >= 400000 AND $langPredSql = 'en'), " +
        "ded AS (SELECT * FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY nk ORDER BY doc_id) AS rn FROM gated) WHERE rn = 1), " +
        s"ev AS (SELECT DISTINCT unnest($shinglesSql) AS s " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        s"trsh AS (SELECT doc_id, unnest($shinglesSql) AS s FROM ded), " +
        "ov AS (SELECT trsh.doc_id, count(*) AS n_sh, count(ev.s) AS n_ov " +
        "FROM trsh LEFT JOIN ev ON trsh.s = ev.s GROUP BY 1), " +
        "bad AS (SELECT doc_id FROM ov WHERE n_ov * 1000000 >= 700000 * n_sh), " +
        "clean AS (SELECT * FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM bad)), " +
        "cnt AS (SELECT source, count(*) AS n FROM clean GROUP BY 1), " +
        "rates AS (SELECT source, least(1000, 15000 // n) AS rate FROM cnt), " +
        "bal AS (SELECT c.* FROM clean c JOIN rates USING (source) " +
        "WHERE ((doc_id % 1000003) * 1103515245 + 12345) % 1000 < rate), " +
        "tok AS (SELECT source, CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) " +
        "AS n_tok FROM bal) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
        "CAST((sum(n_tok) + 2047) // 2048 AS BIGINT) AS n_chunks " +
        "FROM tok GROUP BY source ORDER BY source",
        // the e2e chain behind the media-governance gate: the planted
        // media verdicts reduce to doc_id residues (see the oracle), so
        // `cand` is an arithmetic filter ahead of the shared tail
        Some("WITH cand AS (SELECT * FROM documents " +
          "WHERE (doc_id % 20 NOT IN (4, 9, 14) OR doc_id >= 2000) " +
          "AND doc_id % 10 <> 0), " +
          curateTailSql))) { (s, d) =>
      val docs = Tables.documents(s, d)
      val media = graft.MediaFixtures.memo(s, "curate_media_s2000", d)(
        curateMediaFixture(docs))
      // the three modality gates are independent verdict pipelines
      // over disjoint media columns — run them as CONCURRENT Spark
      // job groups (each internally materializes its cache with
      // count()), exactly how a deployment schedules independent
      // curation stages; local[32] has the slack, and the driver
      // threads only await
      val evalDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val fImg = bgJob(ImageDedup.dedup(media.filter(col("img").isNotNull)
        .select(col("doc_id"), col("img").as("media"))))
      val fAud = bgJob(AudioDedup.dedup(media.filter(col("aud").isNotNull)
        .select(col("doc_id"), col("aud").as("media"))))
      val fVid = bgJob(VideoDedup.dedup(media.filter(col("vid").isNotNull)
        .select(col("doc_id"), col("vid").as("media"))))
      // the curation gate stage (eval holdout + the tokenize pass)
      // depends only on the docs, never on the media verdicts — run
      // it as a 4th concurrent job group and anti-join afterwards
      // (Curation.mediaGateFromGated documents the commute argument);
      // pinned so the tokenize work happens NOW — corpus-sized, so a
      // cache that keeps its lineage, released with the verdicts
      val fGated = bgJob(Materialize.pin(Curation.gateStage(docs, evalDocs)))
      // await all four, so every pin is released whichever job fails
      val pins = Seq(fImg, fAud, fVid, fGated)
        .map(f => scala.util.Try(await(f)))
      try {
        val Seq(imgRes, audRes, vidRes, gated) = pins.map(_.get)
        val dropped = Seq(imgRes, audRes, vidRes)
          .map(_.filter(!col("keep")).select(col("doc_id")))
          .reduce(_.unionByName(_))
        // row-sized: one row per source, materialized while the verdict
        // caches are hot — they are released in the finally
        Materialize.barrier(Curation.mediaGateFromGated(gated, dropped, evalDocs,
            contamThresholdE6 = 700000L) // the q_curate_e2e rationale
          .orderBy(col("source")))
      } finally pins.foreach(_.foreach(Materialize.release(_)))
    },

    // token-budget mixture targeting (the Pile/Dolma-style "mix
    // sources to target proportions" step): per-lang integer permille
    // rates land expected token mass on budget x weight; membership
    // is the deterministic LCG cut, so the achieved mixture —
    // rates, doc counts, AND token sums — is exactly reproducible
    QuerySpec("q_mixture_budget",
      Sql("WITH tok AS (SELECT doc_id, lang, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tk FROM documents), " +
        "tot AS (SELECT lang, sum(tk) AS tokn FROM tok GROUP BY 1), " +
        "w AS (SELECT * FROM (VALUES ('en', 600), ('zh', 100), ('es', 100), " +
        "('fr', 100), ('de', 100)) AS t(lang, wpm)), " +
        "r AS (SELECT tot.lang, least(1000, ((20000 * wpm) // 1000) * 1000 // tokn) AS rate_pm " +
        "FROM tot JOIN w ON tot.lang = w.lang), " +
        "kept AS (SELECT tok.doc_id, tok.lang, tok.tk, r.rate_pm FROM tok JOIN r ON tok.lang = r.lang " +
        "WHERE ((doc_id % 1000003) * 1103515245 + 12345) % 1000 < rate_pm) " +
        "SELECT lang, CAST(rate_pm AS BIGINT) AS rate_pm, count(*) AS n_docs, " +
        "CAST(sum(tk) AS BIGINT) AS est_tokens FROM kept GROUP BY 1, 2 ORDER BY 1",
        Some("WITH tok AS (SELECT doc_id, lang, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tk FROM documents), " +
          "tot AS (SELECT lang, sum(tk) AS tokn FROM tok GROUP BY 1), " +
          "w AS (SELECT * FROM VALUES ('en', 600), ('zh', 100), ('es', 100), " +
          "('fr', 100), ('de', 100) AS t(lang, wpm)), " +
          "r AS (SELECT tot.lang, least(1000, ((20000 * wpm) div 1000) * 1000 div tokn) AS rate_pm " +
          "FROM tot JOIN w ON tot.lang = w.lang), " +
          "kept AS (SELECT tok.doc_id, tok.lang, tok.tk, r.rate_pm FROM tok JOIN r ON tok.lang = r.lang " +
          "WHERE ((doc_id % 1000003) * 1103515245 + 12345) % 1000 < rate_pm) " +
          "SELECT lang, CAST(rate_pm AS BIGINT) AS rate_pm, count(*) AS n_docs, " +
          "CAST(sum(tk) AS BIGINT) AS est_tokens FROM kept GROUP BY 1, 2 ORDER BY 1")),
      Plan("One aggregate pass builds the strata-sized token table, " +
        "which broadcasts back as integer permille rates; the keep " +
        "decision is then a codegen'd LCG filter ON THE SCAN — the " +
        "corpus is never shuffled, and the achieved mixture (rates, " +
        "counts, token sums) is bit-reproducible on any engine from " +
        "(id, stratum, tokens) alone.")) { (s, d) =>
      val docs = Tables.documents(s, d)
      Sampling.mixtureBudget(docs, idCol = "doc_id", strataCol = "lang",
          tokens = ceil(col("n_chars").cast("double") / 4.0).cast("long"),
          weightsPermille = Map("en" -> 600L, "zh" -> 100L, "es" -> 100L,
            "fr" -> 100L, "de" -> 100L),
          budgetTokens = 20000L)
        .groupBy(col("lang"))
        .agg(max(col("__rate_pm")).as("rate_pm"),
          count(lit(1)).as("n_docs"),
          sum(col("__tk")).cast("long").as("est_tokens"))
        .orderBy(col("lang"))
    },

    // per-source quality league table (corpus governance): integer
    // mean/min/max of the composite quality heuristic per source —
    // one scan, one partial-agg exchange on source
    QuerySpec("q_source_quality",
      Sql(s"SELECT source, count(*) AS n_docs, " +
        s"CAST(sum($qualitySql) // count(*) AS BIGINT) AS mean_quality_e6, " +
        s"min($qualitySql) AS min_quality_e6, " +
        s"max($qualitySql) AS max_quality_e6 " +
        "FROM documents GROUP BY 1 ORDER BY 1",
        Some(s"SELECT source, count(*) AS n_docs, " +
          s"CAST(sum($quality) div count(*) AS BIGINT) AS mean_quality_e6, " +
          s"min($quality) AS min_quality_e6, max($quality) AS max_quality_e6 " +
          "FROM documents GROUP BY 1 ORDER BY 1"))) { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), TextOps.qualityE6Col.as("q"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(q) div count(1)").as("mean_quality_e6"),
          min(col("q")).as("min_quality_e6"),
          max(col("q")).as("max_quality_e6"))
        .orderBy("source")
    }
  )
}
