package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.operators.{AnnIndex, AudioDedup, Contamination, Curation, Dedup, EmbeddingOps, EmbeddingQuant, Html, ImageDedup, MediaDedup, ModelSelection, Multimodal, Packing, Retrieval, Sampling, Similarity, TextOps, Tokenizer, Unigram, UrlOps, VideoDedup}

/** Group B (LLM training-data pipeline) — SURVEY.md §2.5 north star:
  * dedup (exact / MinHash / SimHash / n-gram Jaccard / embedding),
  * similarity search, text analysis, multimodal plumbing — over the
  * `documents` and `embeddings` tables.
  *
  * Scale notes: the oracled near-dup/similarity queries run on keyed
  * `% k` probe subsets so the *oracle* stays tractable; the library
  * operators themselves (graft.operators.*) take arbitrary frames
  * and use bucket joins / inverted indexes, not cross products.
  */
object PipelineQueries {

  /** Concurrent-pipeline submitter for the overlap pattern (guide
    * §2.6): the body is a BLOCKING Spark action (a collect, a count or
    * an eager materialization), so it runs wrapped in
    * `scala.concurrent.blocking` — the global fork-join pool then
    * grows a compensation thread instead of deadlocking if keys ever
    * nest or widen the fan-out (ADVICE r16). */
  private def bgJob[T](body: => T): scala.concurrent.Future[T] =
    scala.concurrent.Future(scala.concurrent.blocking(body))(
      scala.concurrent.ExecutionContext.Implicits.global)

  /** Blocks for a [[bgJob]]'s result, rethrowing its failure. */
  private def await[T](f: scala.concurrent.Future[T]): T =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)

  /** Memo keys for the session-shared stored-index bases
    * (graft.IndexMemo): every build parameter that matters is encoded
    * in the key, so no parameter change can ever serve a stale base.
    * The two IVFQ lifecycle keys share one base (corpus minus the
    * pinned batch — the delete key appends the batch first, which is
    * row-identical to a full build under the same centroids); the two
    * BM25 lifecycle keys share the 2/3-corpus base the same way. */
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

  private def ivfqBaseKey(d: String) =
    s"ivfq_base|$d|minus(vec_id%20=13&lt2000)|nlist=16|seed=42|kmeansbb"
  private def bm25BaseKey(d: String) =
    s"bm25_base|$d|docs(doc_id%3!=0)|nBuckets=16"
  private def graphBaseKey(d: String, nlist: Int, sampleMod: Int,
                           init: String) =
    s"graph_base|$d|g=24|spill=3|refine=0|rand=4|nlist=$nlist" +
      s"|mod=$sampleMod|init=$init|seed=42|nBuckets=16"

  /** Second-level memo bases: the FULL-corpus indexes (base + the
    * pinned batch appended under the frozen fit) that q_ann_delete,
    * q_retrieval_delete, and q_retrieval_hybrid_stored all need.
    * Appends are row-identical to a rebuild under the same fit, so
    * one appended clone serves every full-corpus consumer; each key
    * still clones privately before mutating. The build closures
    * derive the SAME slices the base keys encode. */
  /** Multiset equality of two collected top-k result sets — the
    * driver-side form of `a.exceptAll(b).isEmpty &&
    * b.exceptAll(a).isEmpty` for contract-sized (|Q|·k ≤ a few
    * hundred rows) results. The DataFrame form costs two shuffle
    * jobs per parity check at bench granularity; both sides are
    * already driver-sized, so the exact same multiset semantics run
    * for free on the rows the keys collect anyway. */
  private def sameResults(a: Array[org.apache.spark.sql.Row],
                          b: Array[org.apache.spark.sql.Row]): Boolean = {
    def keys(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    a.length == b.length && keys(a) == keys(b)
  }

  /** Driver-side [[Similarity.meanRecall]] over collected result
    * sets: (n_queries, mean recall) — per-query |ann ∩ exact| /
    * |exact| averaged over every qid in `exact`, qids missing from
    * `ann` scoring 0, exactly the DataFrame twin's left-join+fill
    * semantics. */
  private def recallOf(ann: Array[org.apache.spark.sql.Row],
                       exact: Array[org.apache.spark.sql.Row]): (Long, Double) = {
    val annBy = ann.groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val perQ = exact.groupBy(_.getAs[Long]("qid")).toSeq.map { case (q, ex) =>
      val hits = annBy.getOrElse(q, Set.empty[Long])
      ex.count(r => hits(r.getAs[Long]("neighbor_id"))).toDouble / ex.length
    }
    (perQ.length.toLong,
      if (perQ.isEmpty) 0.0 else perQ.sum / perQ.length)
  }

  private def ivfqFullDir(s: SparkSession, d: String): String =
    graft.IndexMemo.dir(ivfqBaseKey(d) + "|plus_batch") { dir =>
      val emb = Tables.embeddings(s, d)
      val batch = emb.filter(pmod(col("vec_id"), lit(20)) === 13
        && col("vec_id") < 2000)
      graft.IndexMemo.cloneDir(ivfqBaseKey(d), dir)(base =>
        AnnIndex.buildIvfqIndex(
          emb.join(batch.select("vec_id"), Seq("vec_id"), "left_anti"),
          base, nlist = 16))
      AnnIndex.appendIvfq(batch, dir)
    }

  private def bm25FullDir(s: SparkSession, d: String): String =
    graft.IndexMemo.dir(bm25BaseKey(d) + "|plus_third") { dir =>
      val docs = Tables.documents(s, d)
      graft.IndexMemo.cloneDir(bm25BaseKey(d), dir)(base =>
        Retrieval.buildIndex(docs.filter(col("doc_id") % 3 =!= 0), base))
      Retrieval.appendIndex(docs.filter(col("doc_id") % 3 === 0), dir)
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_dedup_exact" -> ((s, d) => {
      Dedup.exact(Tables.documents(s, d))
        .select(col("keep_id"), col("n_copies"), col("fp"))
        .orderBy(col("keep_id"))
    }),

    // deterministic stratified sample: keep 30% of English docs, 10%
    // of every other language — arithmetic-hash cut, shuffle-free,
    // bit-reproducible across engines (the oracle recomputes it)
    "q_sample_stratified" -> ((s, d) => {
      Sampling.stratified(Tables.documents(s, d), idCol = "doc_id",
          strataCol = "lang", rates = Map("en" -> 0.3), defaultRate = 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    "q_text_stats" -> ((s, d) =>
      TextOps.textStats(Tables.documents(s, d)).orderBy(col("doc_id"))),

    "q_token_count" -> ((s, d) =>
      TextOps.tokenCounts(Tables.documents(s, d)).orderBy(col("doc_id"))),

    "q_lang_id" -> ((s, d) =>
      TextOps.langId(Tables.documents(s, d)).orderBy(col("doc_id"))),

    "q_quality_score" -> ((s, d) =>
      TextOps.qualityScore(Tables.documents(s, d)).orderBy(col("doc_id"))),

    "q_fingerprint" -> ((s, d) =>
      TextOps.fingerprints(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // canonical normalization (lowercase/strip/collapse) — the
    // portable dedup-key view
    "q_text_normalize" -> ((s, d) =>
      TextOps.normalized(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // source-rebalanced mixture sampling: every source capped at 15
    // expected docs via integer-arithmetic data-derived rates; the
    // report is per-source kept counts
    "q_source_mix" -> ((s, d) => {
      Sampling.rebalanced(Tables.documents(s, d), idCol = "doc_id",
          strataCol = "source", targetPerStratum = 15)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // PII scrub with per-class audit counts. The documents fixture is
    // PII-free, so a contact line is PLANTED deterministically from
    // (doc_id, source) — the oracle then actually exercises matching
    // redaction in both engines, not just pass-through.
    "q_pii_redact" -> ((s, d) => {
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@"), col("source"), lit(".net tel 555-"),
        lpad(col("doc_id").cast("string"), 6, "0"))
      TextOps.piiRedacted(Tables.documents(s, d), planted)
        .orderBy(col("doc_id"))
    }),

    // URL/host-level governance: canonicalize PLANTED raw URLs
    // (scheme/host case, www., default ports, tracking params,
    // fragments, trailing slashes — the fixture exercises every
    // rule including MULTIPLE tracking params in one query string)
    // and aggregate dup pressure per canonical host. Exactly oracled:
    // the oracle replays both the plant and the rule sequence with
    // the same backslash-free regexes
    "q_url_canon" -> ((s, d) => {
      val id = col("doc_id")
      val m = pmod(id, lit(7)).cast("string")
      val schemeRaw = element_at(
        array(lit("HTTP"), lit("http"), lit("HTTPS"), lit("https")),
        pmod(id, lit(4)).cast("int") + 1)
      val www = element_at(array(lit("WWW."), lit("www."), lit("")),
        pmod(id, lit(3)).cast("int") + 1)
      val hostRaw = concat(
        when(pmod(id, lit(2)) === 0, upper(col("source")))
          .otherwise(col("source")), lit(".Example.COM"))
      val port = element_at(
        array(lit(":80"), lit(":443"), lit(":8080"), lit(""), lit("")),
        pmod(id, lit(5)).cast("int") + 1)
      val path = concat(lit("/art/"), pmod(id, lit(40)).cast("string"),
        when(pmod(id, lit(6)) === 0, lit("/")).otherwise(lit("")))
      val query = element_at(array(
        concat(lit("?utm_source=feed&utm_medium=rss&id="), m),
        concat(lit("?id="), m, lit("&utm_campaign=x")),
        concat(lit("?id="), m)), pmod(id, lit(3)).cast("int") + 1)
      val frag = when(pmod(id, lit(7)) === 0, lit("#sec")).otherwise(lit(""))
      val url = concat(schemeRaw, lit("://"), www, hostRaw, port, path,
        query, frag)
      UrlOps.hostReport(UrlOps.withCanonical(
        Tables.documents(s, d).select(col("doc_id"), url.as("url"))))
    }),

    // per-doc top-3 informative terms (integer tf-idf ranking)
    "q_top_terms" -> ((s, d) =>
      TextOps.topTerms(Tables.documents(s, d), k = 3)
        .orderBy(col("doc_id"), col("rk"))),

    // composed corpus selection: quality gate + lang gate + exact
    // dedup on normalized text + per-source mixture report
    "q_corpus_select" -> ((s, d) =>
      TextOps.corpusSelect(Tables.documents(s, d)).orderBy(col("source"))),

    // train/eval decontamination: docs with doc_id % 10 == 0 stand in
    // for the held-out eval suite; every other doc is train. Per
    // train doc: distinct word-3-shingles, how many also occur in
    // eval, overlap fraction, and the >= 10% contaminated flag — all
    // integer arithmetic, eval shingle set broadcast
    "q_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Contamination.overlapReport(
          train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          eval = docs.filter(pmod(col("doc_id"), lit(10)) === 0))
        .orderBy(col("doc_id"))
    }),

    // term co-occurrence with integer lift scores (the PMI signal
    // without the float log): strongest 100 pairs among the top-50
    // informative terms
    "q_cooccur" -> ((s, d) =>
      TextOps.cooccurLift(Tables.documents(s, d), vocab = 50, topPairs = 100)),

    // fuzzy pairwise decontamination: flag a train doc when its
    // 3-gram Jaccard vs SOME single eval doc reaches 50% — catches
    // the near-copy leaks the pooled-shingle fraction dilutes (the
    // fixture plants template twins at ≥96% vs a ~2% background)
    "q_decontam_fuzzy" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Contamination.fuzzyReport(
          train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          eval = docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          minJaccardE6 = 500000L)
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition quality signals: per doc, the char
    // fraction covered by the most frequent word-bigram and the
    // repeated-bigram fraction — the "drop templated/looping text"
    // gates, as floor-divided e6 integers
    "q_quality_repetition" -> ((s, d) =>
      TextOps.repetitionStats(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // CCNet-style bigram-LM scoring: train the corpus's own bigram
    // table, score each doc by avg negative log-likelihood (e6
    // integer; lower = more in-distribution) — the learned quality
    // tier after the rule-based gates
    "q_quality_lm" -> ((s, d) =>
      ModelSelection.lmScore(Tables.documents(s, d))),

    // the same scoring under Kneser-Ney-lite smoothing (absolute
    // discount + continuation-probability backoff — the CCNet
    // standard configuration); same e9-quantized integer sums
    "q_quality_lm_kn" -> ((s, d) =>
      ModelSelection.lmScoreKn(Tables.documents(s, d))),

    // DSIR-style selection: hashed-unigram log-likelihood ratio of
    // the src0 target domain vs the raw corpus; top-20 weighted docs
    "q_select_dsir" -> ((s, d) =>
      ModelSelection.dsirWeights(Tables.documents(s, d),
        isTarget = col("source") === "src0")),

    // CCNet/fastText-style TRAINED quality classifier — the learned
    // linear rung between the rule gates and LM scoring: a 40%
    // stratum plants a deterministic boilerplate tail scaled to doc
    // length (the spam phrase a fastText filter learns), the
    // hashed-unigram + sketch-SGD logistic separator trains on the
    // planted labels, and the fitted model must reach ≥90% training
    // accuracy — the q_logistic_train contract over documents
    "q_quality_classifier" -> ((s, d) => {
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
    }),

    // deterministic per-group reservoir: exactly 5 docs per source
    // ranked by the LCG key (vs rate-based expected counts) — the
    // "k examples per source" inspection/eval cut, WindowGroupLimit
    // pre-prunes map-side
    "q_sample_group" -> ((s, d) =>
      Sampling.perGroupSample(Tables.documents(s, d), idCol = "doc_id",
          groupCol = "source", k = 5)
        .select(col("source"), col("doc_id"), col("rk").cast("long").as("rk"))
        .orderBy(col("source"), col("rk"))),

    // deterministic training-order shuffle: LCG order key → shard
    // (8) → in-shard position; the reproducible global shuffle +
    // sharding a run applies before packing
    "q_train_order" -> ((s, d) =>
      Sampling.trainOrder(Tables.documents(s, d), idCol = "doc_id", nShards = 8)
        .select(col("doc_id"), col("okey"), col("shard"), col("pos"))
        .orderBy(col("doc_id"))),

    // END-TO-END curation: hold out eval (doc_id % 10 == 0) → quality
    // + lang gates → normalized exact dedup → decontaminate vs eval
    // shingles → source rebalance (cap 15 expected/source) → pack to
    // 2048-token sequences. The oracle independently re-derives every
    // stage in SQL and cross-checks the packing tiling invariant
    // (distinct chunks == ceil(total_tokens/seqLen))
    "q_curate_e2e" -> ((s, d) => {
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
    }),

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
    "q_curate_hosts" -> ((s, d) => {
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
    }),

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
    "q_curate_media" -> ((s, d) => {
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
    }),

    // n-gram Jaccard near-dup on a keyed subset (inverted-index join)
    "q_ngram_jaccard" -> ((s, d) => {
      val sub = Tables.documents(s, d).filter(pmod(col("doc_id"), lit(20)) === 0)
      Dedup.ngramJaccardPairs(sub, minJaccard = 0.0)
        .filter(col("inter") >= 1)
        .select(col("a"), col("b"), col("jaccard"))
        .orderBy(col("a"), col("b"))
    }),

    // concat-and-chunk sequence packing (per-source token layout for
    // fixed-length training sequences; seq_len 2048, BPE-estimate
    // token counts)
    "q_pack_chunks" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Packing.packChunks(docs,
          tokensCol = ceil(col("n_chars").cast("double") / 4.0).cast("long"),
          seqLen = 2048)
        .orderBy(col("doc_id"))
    }),

    // chunk→segment materialization of the packing layout: the rows a
    // training loader consumes — docs split at every chunk boundary,
    // (chunk_id, doc_id, tok_start, tok_len, chunk_off) all integer
    "q_pack_segments" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Packing.chunkSegments(docs,
          tokensCol = ceil(col("n_chars").cast("double") / 4.0).cast("long"),
          seqLen = 2048)
        .orderBy(col("source"), col("chunk_id"), col("doc_id"))
    }),

    // overlapping sliding-window chunking (RAG/embedding-index
    // layout): window 64, stride 48 → 16 tokens of shared context
    // between consecutive windows (sized so fixture docs, 11–145
    // tokens, exercise 1–3 windows); pure per-row integer arithmetic
    "q_chunk_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Packing.slidingWindows(docs,
          tokensCol = ceil(col("n_chars").cast("double") / 4.0).cast("long"),
          window = 64, stride = 48)
        .orderBy(col("doc_id"), col("win_id"))
    }),

    // per-label embedding centroids (class prototypes / k-means
    // update step) — exact per-position means, oracle-checked in the
    // flat (label, pos, v) shape so every cell is scalar
    "q_embed_centroid" -> ((s, d) =>
      EmbeddingOps.centroidComponents(Tables.embeddings(s, d))
        .orderBy(col("label"), col("pos"))),

    // MinHash accuracy as a CHECKED contract (the sketch-family
    // pattern): on the keyed subset where exact n-gram Jaccard is
    // oracle-able, every pair's 32-permutation MinHash estimate must
    // sit within ±0.35 of the exact Jaccard (4σ for 32 perms;
    // measured max |err| ≈ 0.22 across SFs). The oracle recomputes
    // the pair count and checks the boolean.
    "q_minhash_est" -> ((s, d) => {
      val sub = Tables.documents(s, d).filter(pmod(col("doc_id"), lit(20)) === 0)
      val exact = Dedup.ngramJaccardPairs(sub, minJaccard = 0.0)
        .filter(col("inter") >= 1)
      val est = Dedup.minhashEstimate(Dedup.minhash(sub),
        exact.select(col("a"), col("b")))
      // scale-stable accuracy contract: a per-pair max bound is a 4σ
      // event for 32 perms and MUST eventually fail as pair count
      // grows (first observed at a 325k-pair sf1 fixture — ~3
      // expected tail events). Contract instead: ≤0.1% of pairs
      // outside the 4σ (0.35) bound, and mean |err| ≤ 0.1 — both as
      // exact integer arithmetic (|err| e6-floored before the sums).
      val errE6 = floor(abs(col("est_jaccard") - col("jaccard")) * 1e6)
        .cast("long")
      exact.join(est, Seq("a", "b"))
        .agg(count(lit(1)).as("n_pairs"),
          (sum(when(errE6 > 350000L, 1L).otherwise(0L)) * 1000
            <= count(lit(1))).as("viol_rate_ok"),
          (sum(errE6) * 10 <= count(lit(1)) * 1000000L).as("mean_err_ok"))
    }),

    // MinHash + LSH banding over the full table — rows-only check
    // (hash-permutation semantics aren't DuckDB-expressible cheaply)
    "q_dedup_minhash" -> ((s, d) => {
      val mh = Dedup.minhash(Tables.documents(s, d))
      val cand = Dedup.minhashCandidates(mh)
      val nCand = cand.select(col("a").as("doc_id"))
        .unionAll(cand.select(col("b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
      mh.select(col("doc_id"), element_at(col("sig"), 1).as("sig0"))
        .join(nCand, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_candidates"))
        .orderBy(col("doc_id"))
    }),

    // pairs → connected components → keep/drop resolution. Duplicate
    // pairs come from a 40-char-prefix fingerprint, CHAINED (each doc
    // paired only with its predecessor in the group) so a 3-doc group
    // is a path, not a clique — the oracle (windowed min over the
    // fingerprint) only agrees if label propagation actually walks
    // the graph.
    "q_dedup_groups" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val fp = docs.select(col("doc_id"), substring(col("text"), 1, 40).as("fp"))
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val pairs = fp.withColumn("prev", lag(col("doc_id"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("a"), col("doc_id").as("b"))
      Dedup.resolveDuplicates(docs, pairs).orderBy(col("doc_id"))
    }),

    // quality-aware dedup resolution: same component graph as
    // q_dedup_groups, but the keeper is the LONGEST doc of each
    // component (doc_id tie-break) — the "keep the cleanest copy"
    // policy, while component identity stays the min doc_id
    "q_dedup_quality" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val fp = docs.select(col("doc_id"), substring(col("text"), 1, 40).as("fp"))
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val pairs = fp.withColumn("prev", lag(col("doc_id"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("a"), col("doc_id").as("b"))
      Dedup.resolveDuplicatesBy(docs, pairs, length(col("text")).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // incremental dedup: docs with doc_id % 3 == 0 arrive as a NEW
    // batch and are admitted against the fingerprint index of the
    // already-curated rest — the re-crawl path (corpus text is never
    // re-read; only its fp column joins). Prefix-40 fingerprints
    // (same as q_dedup_groups) exercise all three verdicts.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val fp40 = substring(col("text"), 1, 40)
      val index = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
        .select(fp40.as("fp"))
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      Dedup.incremental(batch, index, fp40).orderBy(col("doc_id"))
    }),

    // token-budget mixture targeting (the Pile/Dolma-style "mix
    // sources to target proportions" step): per-lang integer permille
    // rates land expected token mass on budget x weight; membership
    // is the deterministic LCG cut, so the achieved mixture —
    // rates, doc counts, AND token sums — is exactly reproducible
    "q_mixture_budget" -> ((s, d) => {
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
    }),

    // bounded-memory incremental admission: the stored index folded
    // into a broadcast Bloom filter instead of joined — soundness
    // (no false negatives: every true dup still caught) plus a
    // bounded novel-loss rate vs the exact operator, as a checked
    // contract
    "q_dedup_incr_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val fp40 = substring(col("text"), 1, 40)
      val index = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
        .select(fp40.as("fp"))
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val exact = Dedup.incremental(batch, index, fp40)
        .select(col("doc_id"), col("status").as("exact_status"))
      val bloom = Dedup.incrementalBloom(batch, index, fp40,
          expectedItems = 100000L, fpp = 0.01)
        .select(col("doc_id"), col("status").as("bloom_status"))
      exact.join(bloom, Seq("doc_id"))
        .agg(count(lit(1)).as("n_batch"),
          (sum(when(col("exact_status") === Dedup.DupOfIndex &&
            col("bloom_status") =!= Dedup.DupOfIndex, 1L).otherwise(0L)) === 0)
            .as("sound"),
          coalesce(
            sum(when(col("exact_status") === Dedup.Novel &&
              col("bloom_status") === Dedup.DupOfIndex, 1L).otherwise(0L))
              .cast("double") /
              sum(when(col("exact_status") === Dedup.Novel, 1L).otherwise(0L))
              <= 0.05, lit(true)).as("loss_ok"))
    }),

    // tokenizer-prep vocabulary coverage: top-20 term vocab from the
    // train split (tf desc, term tie-break — deterministic at the
    // cutoff), OOV rate of the held-out split as integer ppm. The
    // vocab is TakeOrdered'd then broadcast — the held-out scan never
    // shuffles
    "q_vocab_coverage" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def toks(df: org.apache.spark.sql.DataFrame) =
        df.select(explode(split(col("text"), " ")).as("term"))
          .filter(length(col("term")) > 0)
      val vocab = toks(docs.filter(pmod(col("doc_id"), lit(4)) =!= 0))
        .groupBy("term").agg(count(lit(1)).as("tf"))
        .orderBy(desc("tf"), col("term")).limit(20)
        .select(col("term"), lit(1).as("in_vocab"))
      val cov = toks(docs.filter(pmod(col("doc_id"), lit(4)) === 0))
        .join(broadcast(vocab), Seq("term"), "left")
        .agg(count(lit(1)).as("n_held_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).cast("long").as("n_oov"))
      cov.crossJoin(vocab.agg(count(lit(1)).cast("long").as("n_vocab")))
        .select(col("n_vocab"), col("n_held_tokens"), col("n_oov"),
          expr("n_oov * 1000000 div n_held_tokens").as("oov_e6"))
    }),

    // per-source quality league table (corpus governance): integer
    // mean/min/max of the composite quality heuristic per source —
    // one scan, one partial-agg exchange on source
    "q_source_quality" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("source"), TextOps.qualityE6Col.as("q"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(q) div count(1)").as("mean_quality_e6"),
          min(col("q")).as("min_quality_e6"),
          max(col("q")).as("max_quality_e6"))
        .orderBy("source")
    }),

    // duplicate-cluster size histogram (governance): how many dup
    // groups exist at each multiplicity — two cascaded partial aggs,
    // the second over at most #distinct-sizes keys
    "q_dup_sizes" -> ((s, d) => {
      Tables.documents(s, d)
        .select(substring(col("text"), 1, 40).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("n_copies"))
        .filter(col("n_copies") >= 2)
        .groupBy("n_copies").agg(count(lit(1)).as("n_groups"))
        .orderBy("n_copies")
    }),

    // cross-source duplication matrix (corpus governance): for every
    // unordered source pair, how many duplicate fingerprints they
    // share — diagonal entries count intra-source dup groups (≥2
    // copies within the source). One (fp, source) partial agg, an
    // fp-keyed self-join bounded by sources-per-fp (≤ #sources), and
    // a tiny source-pair agg — the mirror-detection report that
    // tells a 100 TB curation which feeds re-crawl each other.
    "q_dup_sources" -> ((s, d) => {
      val f = Tables.documents(s, d)
        .select(substring(col("text"), 1, 40).as("fp"), col("source"))
        .groupBy("fp", "source").agg(count(lit(1)).as("n"))
      val a = f.select(col("fp"), col("source").as("source_a"), col("n").as("na"))
      val b = f.select(col("fp"), col("source").as("source_b"), col("n").as("nb"))
      a.join(b, Seq("fp"))
        .filter(col("source_a") < col("source_b") ||
          (col("source_a") === col("source_b") && col("na") >= 2))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_shared_fps"))
        .orderBy("source_a", "source_b")
    }),

    // fuzzy incremental admission as a checked contract: the engine
    // flags batch docs near-duplicating the corpus through the
    // band-key index + exact verify; flagged must be ⊆ the exact
    // bipartite truth (soundness) and recover ≥80% of it (recall —
    // 16×2 bands catch J≥0.5 pairs w.p. ≥0.99). n_batch/n_exact are
    // oracle-recomputed exactly; the booleans must come out TRUE.
    "q_dedup_incr_near" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val index = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val flagged = Dedup.incrementalNearDup(batch, index, minJaccard = 0.5)
        .filter(col("status") === "near_dup")
        .select(col("doc_id"), lit(1).as("f"))
      // exact bipartite truth: full inverted-index join, no LSH
      val bsh = Dedup.shingleRows(batch).select(col("doc_id").as("a"), col("s"))
      val ish = Dedup.shingleRows(index).select(col("doc_id").as("b"), col("s"))
      val na = bsh.groupBy("a").agg(count(lit(1)).as("na"))
      val nb = ish.groupBy("b").agg(count(lit(1)).as("nb"))
      val truth = bsh.join(ish, "s").groupBy("a", "b").agg(count(lit(1)).as("inter"))
        .join(na, "a").join(nb, "b")
        .filter(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")) >= 0.5)
        .select(col("a").as("doc_id")).distinct()
        .withColumn("t", lit(1))
      batch.select(col("doc_id"))
        .join(flagged, Seq("doc_id"), "left")
        .join(truth, Seq("doc_id"), "left")
        .agg(
          count(lit(1)).as("n_batch"),
          // coalesce each aggregate: an EMPTY batch must report
          // (0, 0, TRUE, TRUE) like the oracle's literals, not NULLs
          coalesce(sum(coalesce(col("t"), lit(0))), lit(0)).cast("long").as("n_exact"),
          coalesce(max(when(col("f") === 1 && col("t").isNull, 1).otherwise(0)),
            lit(0)).as("unsound"),
          coalesce(sum(when(col("f") === 1 && col("t") === 1, 1).otherwise(0)),
            lit(0)).as("n_hit"))
        .select(col("n_batch"), col("n_exact"),
          (col("unsound") === 0).as("sound"),
          (col("n_exact") === 0 ||
            col("n_hit") / col("n_exact") >= 0.8).as("recall_ok"))
    }),

    // SimHash near-dup bands — rows-only check
    "q_dedup_simhash" -> ((s, d) => {
      Dedup.simhash(Tables.documents(s, d))
        .select(col("doc_id"), col("simhash"),
          element_at(col("bands"), 1).as("band0"))
        .orderBy(col("doc_id"))
    }),

    // embedding-cosine near-dup on a keyed probe subset, routed
    // through LSH candidates (the scale path: bucket equi-joins, no
    // probe broadcast — the probe set is a fixed fraction of the
    // corpus, so the exact broadcast form would outgrow executor
    // memory at 100×). Checked contract, like q_similarity_lsh: the
    // exact all-pairs stats are computed ONLY as the verification
    // baseline (bounded probes at verification SF); the ANN route
    // must be sound (never over-counts) and recover >= 80% of the
    // exact near pairs (measured 96-97% at sf0.01/sf0.1 with
    // bits = 2, 8 tables).
    "q_dedup_embedding" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      val exact = Dedup.embeddingNearDup(probes, emb, threshold = 0.2)
        .select(col("qid"), col("n_near").as("n_exact"))
      val ann = Dedup.embeddingNearDupLsh(emb, probes, threshold = 0.2,
          bits = 2, numTables = 8, dim = 64)
        .select(col("qid"), col("n_near").as("n_ann"))
      exact.join(ann, Seq("qid"), "left")
        .na.fill(0L, Seq("n_ann"))
        .agg(count(lit(1)).as("n_probes"),
          (sum(when(col("n_ann") > col("n_exact"), 1L).otherwise(0L)) === 0)
            .as("sound"),
          (sum(col("n_exact")) === 0 ||
            sum(col("n_ann")).cast("double")
              / greatest(sum(col("n_exact")), lit(1L)) >= 0.8).as("recall_ok"))
    }),

    // SemDeDup-style cluster-scoped semantic dedup as a checked
    // contract: 5% planted near-duplicate vectors (deterministic
    // per-dim perturbation, cos ≈ 0.999 to their source) must be
    // found by WITHIN-CLUSTER pair search only. sound = every drop
    // re-verified against the exact global definition (broadcast of
    // the small drop set, never all pairs); recall_ok = ≥80% of the
    // planted dups dropped
    "q_dedup_semantic" -> ((s, d) => {
      import graft.functions.VectorOps
      val emb = Tables.embeddings(s, d).select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("embedding"))
      val planted = emb.filter(pmod(col("vec_id"), lit(20)) === 0)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          transform(col("embedding"), (v, i) =>
            v + (pmod(col("vec_id") * 7 + i, lit(5)) - lit(2)).cast("double")
              * lit(0.004)).as("embedding"))
      val corpus = emb.unionByName(planted)
      // the paper's configuration: nlist grows with the corpus so
      // |cell| (and the Σ|cell|² pair cost) stays bounded; the count
      // is parquet-footer metadata, not a data scan. The centroid
      // fit runs on a hash sample capped at ~16·nlist rows so fit
      // cost is O(nlist²) regardless of corpus size.
      val n = corpus.count()
      val nlist = math.max(8L, n / 256L).toInt
      val sampleMod = math.max(1L, n / (16L * nlist)).toInt
      // res is pinned (3 narrow columns) and feeds BOTH contract
      // branches, so the cid-keyed pair join runs once
      val res = Dedup.semanticDedup(corpus, nlist, threshold = 0.9,
        sampleMod = sampleMod)
      // soundness truth branch: re-verify a deterministic SCALE-CAPPED
      // panel of the drop set against the exact global definition —
      // mod-7 thinning (planted ids are ≡ 0 mod 20: a mod-20 sampler
      // would select exactly the planted drops and verify nothing
      // else), then ordered-by-id and capped at 256, so the branch
      // costs ≤ 256·|corpus| exact cosines at ANY scale. This is the
      // q_similarity probe-panel rule applied to the truth side: the
      // UNCAPPED |drops|/7 × |corpus| branch was 47.8 s of the key's
      // 61.3 s at sf10 — quadratic by construction, since |drops| ∝ n
      // while the OPERATOR itself is 10.5 s there (hier cells).
      val panel = res.filter(!col("keep")
          && pmod(col("vec_id"), lit(7)) === 0)
        .select(col("vec_id").as("yid"))
        .orderBy(col("yid")).limit(256)
      val droppedVec = broadcast(panel
        .join(corpus.select(col("vec_id").as("yid"), col("embedding").as("yv")),
          Seq("yid")))
      val confirmed = droppedVec
        .join(corpus.select(col("vec_id").as("xid"), col("embedding").as("xv")),
          col("xid") < col("yid"))
        .filter(VectorOps.cosineSim(col("xv"), col("yv")) > 0.9)
        .select(col("yid")).distinct()
        .agg(count(lit(1)).as("n_confirmed"))
      val nPanel = panel.agg(count(lit(1)).as("n_dropped_sampled"))
      res.agg(
          count(lit(1)).as("n_corpus"),
          sum(when(col("vec_id") >= 1000000L, 1L).otherwise(0L)).as("n_planted"),
          sum(when(!col("keep") && col("vec_id") >= 1000000L, 1L).otherwise(0L))
            .as("n_planted_dropped"))
        .crossJoin(broadcast(nPanel))
        .crossJoin(broadcast(confirmed))
        .select(col("n_corpus"), col("n_planted"),
          (col("n_dropped_sampled") === col("n_confirmed")).as("sound"),
          (col("n_planted_dropped").cast("double")
            >= col("n_planted") * 0.8).as("recall_ok"))
    }),

    // perceptual-hash IMAGE near-dup as a checked contract: every doc
    // carries its planted image and a 5% stratum plants a perturbed
    // near-duplicate twin (decoded pixels +1 on a third of positions,
    // re-encoded PNG, REAL decode on both sides). dHash → 4×16-bit
    // Hamming-band candidate join → exact thumbnail-distance verify
    // on candidates only. sound = a deterministic ≤256-drop panel
    // re-verified against the exact global thumbnail definition (the
    // q_dedup_semantic truth rule — bounded at any scale); recall_ok
    // = ≥80% of planted twins dropped
    "q_dedup_image" -> ((s, d) => {
      // parquet-memoized plant (graft.MediaFixtures): the decode +
      // perturb + PNG re-encode fixture synthesis is input
      // construction, paid once per session instead of per attempt
      val corpus = graft.MediaFixtures.memo(s, "img_twins", d)(
        ImageDedup.withPlantedTwins(Tables.documents(s, d)))
      mediaDedupContract(s, ImageDedup, corpus, "n_images")
    }),

    // energy-envelope AUDIO near-dup as a checked contract — the
    // q_dedup_image design one modality over: every doc carries its
    // planted WAV and a 5% stratum plants a perturbed near-duplicate
    // twin (decoded samples +1 on every 3rd position, re-encoded
    // WAV, REAL decode on both sides). sign-delta envelope hash →
    // 4×16-bit Hamming-band candidate join → exact envelope-distance
    // verify on candidates only. sound = a deterministic ≤256-drop
    // panel re-verified against the exact global envelope definition;
    // recall_ok = ≥80% of planted twins dropped
    "q_dedup_audio" -> ((s, d) => {
      // parquet-memoized plant, the q_dedup_image rationale
      val corpus = graft.MediaFixtures.memo(s, "aud_twins", d)(
        AudioDedup.withPlantedTwins(Tables.documents(s, d)))
      mediaDedupContract(s, AudioDedup, corpus, "n_clips")
    }),

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
    "q_dedup_video" -> ((s, d) => {
      // parquet-memoized plant: the codec-pipeline fixture synthesis
      // is input construction, not operator work (graft.MediaFixtures)
      val corpus = graft.MediaFixtures.memo(s, "vid_twins", d)(
        VideoDedup.withPlantedTwins(Tables.documents(s, d)))
      mediaDedupContract(s, VideoDedup, corpus, "n_streams")
    }),

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
    "q_dedup_incr_image" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      mediaAdmissionContract(s, d, ImageDedup, "imgdedup", Map.empty,
        graft.MediaFixtures.memo(s, "img_corpus", d)(ImageDedup.withPlantedImages(docs)),
        graft.MediaFixtures.memo(s, "img_recrawl", d)(ImageDedup.plantedRecrawlBatch(docs)))
    }),

    // incremental AUDIO and VIDEO admission against a STORED index —
    // the q_dedup_incr_image lifecycle one modality over (video: rep
    // streams and frame-level bucket keys, containment verify)
    "q_dedup_incr_video" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      mediaAdmissionContract(s, d, VideoDedup, "viddedup", Map("contain" -> "70"),
        graft.MediaFixtures.memo(s, "vid_corpus", d)(VideoDedup.withPlantedStreams(docs)),
        graft.MediaFixtures.memo(s, "vid_recrawl", d)(VideoDedup.plantedRecrawlBatch(docs)))
    }),

    "q_dedup_incr_audio" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      mediaAdmissionContract(s, d, AudioDedup, "auddedup", Map.empty,
        graft.MediaFixtures.memo(s, "aud_corpus", d)(AudioDedup.withPlantedClips(docs)),
        graft.MediaFixtures.memo(s, "aud_recrawl", d)(AudioDedup.plantedRecrawlBatch(docs)))
    }),

    // brute-force cosine top-5 for keyed probe queries (exact ANN
    // baseline). All six similarity queries pin the probe set to
    // vec_id % 100 == 0 AND vec_id < 2000: a no-op at sf<=0.1 (every
    // vec_id qualifies), a CONSTANT <=20-probe panel beyond — the
    // probe panel is pipeline config, and an unbounded one makes the
    // deliberate |Q|x|C| exact-truth branches (not the ANN paths)
    // dominate large-sf benches
    "q_similarity_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      Similarity.bruteForceTopK(emb, queries, k = 5)
        .orderBy(col("qid"), col("rank"))
    }),

    // metadata-constrained vector search: top-5 within the query's
    // own label slice — the filter rides the JOIN KEY (hash join on
    // label), never a post-filter of oversampled neighbors
    "q_similarity_filtered" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      Similarity.filteredTopK(emb, queries, k = 5, constraintCols = Seq("label"))
        .orderBy(col("qid"), col("rank"))
    }),

    // LSH-bucketed ANN (the scale path) as a CHECKED recall contract:
    // multi-table LSH top-5 must recover ≥50% of the exact top-5
    // (measured 0.6-0.92 across SFs; the bound is the contract, the
    // oracle checks the boolean + the probe count)
    "q_similarity_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      // dim passed explicitly (pipeline config) — avoids the
      // documented one-row probe job the dim=0 fallback costs
      val ann = Similarity.lshTopK(emb, queries, k = 5, bits = 4, numTables = 8,
        dim = 64)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      Similarity.meanRecall(ann, exact)
        .select(col("n_queries"), (col("recall") >= 0.5).as("recall_ok"))
    }),

    // IVF-partitioned ANN (seeded-kmeans centroid-pruned candidate
    // join), same checked recall contract (measured 0.59-0.92)
    "q_similarity_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      val ann = Similarity.ivfTopK(emb, queries, k = 5, nlist = 16, nProbe = 4)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      Similarity.meanRecall(ann, exact)
        .select(col("n_queries"), (col("recall") >= 0.5).as("recall_ok"))
    }),

    // IVF × int8 two-stage ANN (quantized candidate scan + exact
    // re-rank of the top rerank·k only — the memory-bounded IVF+PQ
    // shape of a production vector store), same checked recall
    // contract against the exact top-5
    "q_similarity_ivfq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      val ann = Similarity.ivfTopKQuantized(emb, queries, k = 5,
        nlist = 16, nProbe = 4, rerank = 4)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      Similarity.meanRecall(ann, exact)
        .select(col("n_queries"), (col("recall") >= 0.5).as("recall_ok"))
    }),

    // JL-within-IVF two-stage ANN: coarse rank over the 16-long
    // integer projection of the nProbe probed CELLS only (narrow
    // cid-keyed scan, no floats in stage 1), exact re-rank of a
    // probed-fraction candidate budget — same checked recall
    // contract (measured ~0.84-0.96 after the round-10 sign-hash fix)
    "q_similarity_proj" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      val ann = Similarity.projTopK(emb, queries, k = 5)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      Similarity.meanRecall(ann, exact)
        .select(col("n_queries"), (col("recall") >= 0.5).as("recall_ok"))
    }),

    // vector-space incremental admission as a checked contract (the
    // embedding sibling of q_dedup_incr_near): a pinned batch of
    // planted near-copies (cos≈0.9999, must be flagged) and far
    // variants (cos«0.9) is admitted against the full corpus through
    // the LSH bucket index + exact-cosine verify on candidates only.
    // flagged ⊆ exact bipartite truth (soundness; truth = broadcast
    // of the ≤200-row pinned batch against the corpus, linear) and
    // recall ≥0.8 of the truth — contract booleans must come out TRUE
    "q_dedup_incr_embed" -> ((s, d) => {
      import graft.functions.VectorOps
      val emb = Tables.embeddings(s, d).select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("embedding"))
      val stratum = emb.filter(pmod(col("vec_id"), lit(20)) === 0
        && col("vec_id") < 2000)
      def planted(offset: Long, eps: Double) = stratum
        .select((col("vec_id") + lit(offset)).as("vec_id"),
          transform(col("embedding"), (v, i) =>
            v + (pmod(col("vec_id") * 7 + i, lit(5)) - lit(2)).cast("double")
              * lit(eps)).as("embedding"))
      val batch = planted(1000000L, 0.004).unionByName(planted(2000000L, 0.8))
      val res = Dedup.incrementalEmbeddingAdmission(batch, emb,
        threshold = 0.9, dim = 64)
      val flagged = res.filter(col("status") === "near_dup")
        .select(col("vec_id"), lit(1).as("f"))
      val truth = Dedup.embeddingNearDup(batch, emb, threshold = 0.9)
        .filter(col("n_near") > 0)
        .select(col("qid").as("vec_id"), lit(1).as("t"))
      batch.select(col("vec_id"))
        .join(flagged, Seq("vec_id"), "left")
        .join(truth, Seq("vec_id"), "left")
        .agg(
          count(lit(1)).as("n_batch"),
          coalesce(max(when(col("f") === 1 && col("t").isNull, 1).otherwise(0)),
            lit(0)).as("unsound"),
          coalesce(sum(coalesce(col("t"), lit(0))), lit(0)).cast("double").as("n_exact"),
          coalesce(sum(when(col("f") === 1 && col("t") === 1, 1).otherwise(0)),
            lit(0)).cast("double").as("n_hit"))
        .select(col("n_batch"), (col("unsound") === 0).as("sound"),
          (col("n_hit") >= col("n_exact") * 0.8).as("recall_ok"))
    }),

    // incremental SEMANTIC admission against a STORED index (the
    // round-13 gap: semantic dedup re-paid its centroid fit +
    // quantize + assignment every run while every other family had a
    // stored lifecycle): the cid-bucketed int8 assignment + two-level
    // centroid sidecar persist through IndexCatalog (params include
    // the corpus vintage), the pinned batch of planted near-copies
    // (cos≈0.9999, must flag) and far variants (must pass) is
    // admitted against the STORED cells with int8 prefilter + exact
    // float verify on candidates only. sound/recall vs the exact
    // bipartite truth (broadcast ≤200-row batch); reuse_ok = the
    // second catalog open resolves the same index from its manifest
    // alone — the build closure THROWS if invoked again
    "q_dedup_incr_semantic" -> ((s, d) => {
      import graft.functions.VectorOps
      val emb = Tables.embeddings(s, d).select(col("vec_id"),
        VectorOps.asDoubleArray(col("embedding")).as("embedding"))
      val stratum = emb.filter(pmod(col("vec_id"), lit(20)) === 0
        && col("vec_id") < 2000)
      def planted(offset: Long, eps: Double) = stratum
        .select((col("vec_id") + lit(offset)).as("vec_id"),
          transform(col("embedding"), (v, i) =>
            v + (pmod(col("vec_id") * 7 + i, lit(5)) - lit(2)).cast("double")
              * lit(eps)).as("embedding"))
      val batch = planted(1000000L, 0.004).unionByName(planted(2000000L, 0.8))
      val n = emb.count()
      val nlist = math.max(8L, n / 256L).toInt
      val sampleMod = math.max(1L, n / (16L * nlist)).toInt
      val params = Map("family" -> "semdedup", "sf" -> d,
        "nlist" -> nlist.toString, "seed" -> "42",
        "mod" -> sampleMod.toString, "n" -> n.toString)
      val (dir1, _) = graft.IndexCatalog.openOrBuild(s,
        graft.IndexMemo.catalogRoot, "semdedup_incr", params)(stg =>
        Dedup.buildSemanticIndex(emb, nlist, stg, sampleMod = sampleMod))
      val (dir2, reused2) = graft.IndexCatalog.openOrBuild(s,
        graft.IndexMemo.catalogRoot, "semdedup_incr", params)(_ =>
        throw new IllegalStateException(
          "catalog reopen must not rebuild a vintage-matched index"))
      val reuseOk = reused2 && dir1 == dir2
      val res = Dedup.incrementalSemanticAdmission(batch, emb, dir2,
        threshold = 0.9)
      val flagged = res.filter(col("status") === "near_dup")
        .select(col("vec_id"), lit(1).as("f"))
      val truth = Dedup.embeddingNearDup(batch, emb, threshold = 0.9)
        .filter(col("n_near") > 0)
        .select(col("qid").as("vec_id"), lit(1).as("t"))
      batch.select(col("vec_id"))
        .join(flagged, Seq("vec_id"), "left")
        .join(truth, Seq("vec_id"), "left")
        .agg(
          count(lit(1)).as("n_batch"),
          coalesce(max(when(col("f") === 1 && col("t").isNull, 1).otherwise(0)),
            lit(0)).as("unsound"),
          coalesce(sum(coalesce(col("t"), lit(0))), lit(0)).cast("double").as("n_exact"),
          coalesce(sum(when(col("f") === 1 && col("t") === 1, 1).otherwise(0)),
            lit(0)).cast("double").as("n_hit"))
        .select(col("n_batch"), (col("unsound") === 0).as("sound"),
          (col("n_hit") >= col("n_exact") * 0.8).as("recall_ok"),
          lit(reuseOk).as("reuse_ok"))
    }),

    // sf-SCALED probe panel (round-9 advice): every other ANN key
    // pins its probe set for bench comparability, so this key alone
    // retains QUERY-COUNT scaling coverage — probes are the UNCAPPED
    // 1% vec_id stratum, answered by IVF with corpus-scaled nlist
    // (|cell| ≈ 256 constant). The contract is coverage (≥95% of
    // probes fill their top-k) rather than recall, because an
    // exact-truth branch over a probe set that grows with the corpus
    // is quadratic at scale — precisely what the pinned-panel keys'
    // recall contracts exist to avoid
    "q_similarity_scaled" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      val n = emb.count()
      val nlist = math.max(16L, n / 256L).toInt
      val initMode = if (nlist > 64) "random" else "k-means||"
      // centroid fit on a ~16·nlist hash sample (the semanticDedup
      // rule): without it the KMeans fit alone scans the full corpus
      // × maxIter at large nlist (~30 s of the sf10 bench)
      val sampleMod = math.max(1L, n / (16L * nlist)).toInt
      val ann = Similarity.ivfTopK(emb, queries, k = 5, nlist = nlist,
        nProbe = 4, initMode = initMode, sampleMod = sampleMod)
      val perQ = ann.groupBy(col("qid")).agg(count(lit(1)).as("n_found"))
      queries.select(col("vec_id").as("qid"))
        .join(perQ, Seq("qid"), "left").na.fill(0L, Seq("n_found"))
        .agg(count(lit(1)).as("n_queries"),
          (sum(when(col("n_found") >= 5, 1L).otherwise(0L)).cast("double")
            / count(lit(1)) >= 0.95).as("coverage_ok"))
    }),

    // graph-traversal ANN (the NN-Descent index + DiskANN-style
    // seed-and-walk search — the remaining major ANN family next to
    // LSH/IVF/JL): k-NN graph from within-cell + random-partner
    // candidates refined one NN-Descent round, queries seeded from
    // their 2 nearest cells and expanded 2 beam-search hops over the
    // cached edge table; same checked recall contract (measured
    // 0.80-0.84 vs exact top-5)
    "q_similarity_graph" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      // nlist grows with the corpus to hold |cell| (and the graph
      // build's within-cell pair cost) constant — the semanticDedup
      // scaling rule; random init once cells reach the hundreds
      // (k-means||'s driver-local final step dominates there)
      val n = emb.count()
      // |cell| ≈ 128 (denom halved from the IVF keys' 256): with the
      // top-3 spill the init pair cost is cells·(3·|cell|)² =
      // 9·n·|cell|, so halving |cell| pays for the spill — measured
      // sf10 build wall lands at the old spill-2 level while recall
      // climbs (see matrix below)
      val nlist = math.max(16L, n / 128L).toInt
      val initMode = if (nlist > 64) "random" else "k-means||"
      // fit on a ~16·nlist hash sample — see q_similarity_scaled
      val sampleMod = math.max(1L, n / (16L * nlist)).toInt
      // seed width scales WITH the cell count (a fixed 2-cell seed
      // covers a vanishing corpus fraction as nlist grows — the
      // round-10 sf1 oracle re-check caught recall decaying 0.80 →
      // 0.26 under fixed seeding). Search cost stays o(n): seeds are
      // |seedProbe|·~128 rows and each hop is |Q|·beam·2g.
      // Round 13 widened the SERVE side only (build untouched): the
      // residual recall gap was measured serve-limited at sf1
      // (beam 48→96: 0.88→0.96, identical build) and seed-limited at
      // sf10 (beam alone 0.86→0.88; nlist/32→nlist/16 seeding with
      // beam 96: →0.93) — while the build-side levers were measured
      // NOT worth their wall (g=32: 0.89; NN-Descent refine at g=32
      // spilled its 820M-pair round at sf10)
      val seedProbe = math.max(2, nlist / 16)
      // round-11 sf1 re-measure: recall was STILL ~0.3 at sf1 —
      // the graph was CELL-DISCONNECTED (see
      // Similarity.assignTopCells) and the spilled build assignment
      // fixed the topology. Round 12 tuned the build on a measured
      // (spill, |cell|, g) matrix at three decades: top-3 spill at
      // the old |cell|=256 lifted sf1 0.79 → 0.88 but SANK sf10 to
      // 0.75 at 4× wall (2.25× candidates make the top-g cut
      // over-local, crowding out the long-range edges the walk
      // needs); halving |cell| to 128 restores the pair budget and
      // g=24 keeps the long-range edges — recall 0.98 / 0.88 / 0.86
      // at sf0.1 / sf1 / sf10 with sf10 build wall at the old
      // spill-2 level. NN-Descent refinement stays off (measured
      // marginal at every decade: sf0.1 +0.02 for +10 s, sf10 +0.00
      // for +47 s) and remains a [[Similarity.knnGraph]] knob for
      // deployments whose degree budget can't cover the topology.
      //
      // Round 12 also made this the STORED-index path: the build
      // persists edges + centroid sidecar once per session
      // (graft.IndexMemo, shared with q_similarity_graph_scaled) and
      // the key serves entirely from disk — the deployment shape,
      // with serving parity to the in-session build proved by
      // GraphLayoutSpec.
      val idxDir = graft.IndexMemo.dir(
        graphBaseKey(d, nlist, sampleMod, initMode))(base =>
        AnnIndex.buildGraphIndex(emb, base, g = 24, nlist = nlist,
          refineRounds = 0, randPerVec = 4, initMode = initMode,
          sampleMod = sampleMod, spillCells = 3))
      // the stored-graph traversal (eager per-hop checkpoints) and
      // the brute-force truth are independent pipelines — concurrent
      // job groups (the q_curate_media overlap rule)
      val fAnn = bgJob(AnnIndex.graphTopKFromPath(s, idxDir, emb, queries,
        k = 5, beam = 96, hops = 3, seedProbe = seedProbe))
      // query-sized: k rows per query, computed WHILE fAnn traverses
      val exact = Materialize.barrier(Similarity.bruteForceTopK(emb, queries, k = 5))
      // bound raised 0.65 → 0.75 (r12) → 0.85 (r13, after the serve
      // retune measured 0.98 / 0.96 / 0.93 at sf0.1 / sf1 / sf10):
      // the contract enforces the scale margin itself
      Similarity.meanRecall(await(fAnn), exact)
        .select(col("n_queries"), (col("recall") >= 0.85).as("recall_ok"))
    }),

    // the graph twin of q_similarity_scaled (round-11 advice: the
    // IVF and JL families carry corpus-scaled probe contracts, the
    // graph family only a pinned panel): probes are the UNCAPPED 1%
    // vec_id stratum, served from the SAME stored graph index as
    // q_similarity_graph (built once per session), traversed with
    // the now-distributed frontier — each hop is a barrier, so
    // no frontier row visits the driver and the probe set can scale
    // with the corpus. Contract: ≥95% of probes fill their top-k
    // (the q_similarity_scaled coverage rule — an exact-truth branch
    // over a growing probe set would be quadratic, which is what the
    // pinned panel's recall contract exists to avoid)
    "q_similarity_graph_scaled" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      val n = emb.count()
      val nlist = math.max(16L, n / 128L).toInt
      val initMode = if (nlist > 64) "random" else "k-means||"
      val sampleMod = math.max(1L, n / (16L * nlist)).toInt
      // serve params deliberately NOT the panel key's recall-tuned
      // ones (beam 96, nlist/16 seeding): this key's contract is
      // top-k COVERAGE over a probe set that grows with the corpus,
      // and its job is proving the distributed frontier at that
      // scale — the narrower beam keeps the |Q|·beam hop joins at
      // the pinned cost while the panel key carries the recall bar
      val seedProbe = math.max(2, nlist / 32)
      val idxDir = graft.IndexMemo.dir(
        graphBaseKey(d, nlist, sampleMod, initMode))(base =>
        AnnIndex.buildGraphIndex(emb, base, g = 24, nlist = nlist,
          refineRounds = 0, randPerVec = 4, initMode = initMode,
          sampleMod = sampleMod, spillCells = 3))
      val ann = AnnIndex.graphTopKFromPath(s, idxDir, emb, queries,
        k = 5, beam = 48, hops = 3, seedProbe = seedProbe)
      val perQ = ann.groupBy(col("qid")).agg(count(lit(1)).as("n_found"))
      queries.select(col("vec_id").as("qid"))
        .join(perQ, Seq("qid"), "left").na.fill(0L, Seq("n_found"))
        .agg(count(lit(1)).as("n_queries"),
          (sum(when(col("n_found") >= 5, 1L).otherwise(0L)).cast("double")
            / count(lit(1)) >= 0.95).as("coverage_ok"))
    }),

    // JL ANN at DEPLOYMENT configuration (the round-10 advice gap:
    // q_similarity_proj pins nlist=16 for bench comparability, so its
    // o(n) budget claim rested on the docstring's scaling rule rather
    // than a measured key): corpus-scaled nlist (|cell| ≈ 256), fit
    // on a ~16·nlist hash sample, uncapped 1% probe stratum — the
    // q_similarity_scaled coverage contract over the JL path. The
    // per-query budget is probed/2 ≈ 256·nProbe/2 rows — CONSTANT
    // under this scaling, making the o(n) claim a measured fact
    "q_similarity_proj_scaled" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
      val n = emb.count()
      val nlist = math.max(16L, n / 256L).toInt
      val initMode = if (nlist > 64) "random" else "k-means||"
      val sampleMod = math.max(1L, n / (16L * nlist)).toInt
      val ann = Similarity.projTopK(emb, queries, k = 5, nlist = nlist,
        nProbe = 8, initMode = initMode, sampleMod = sampleMod)
      val perQ = ann.groupBy(col("qid")).agg(count(lit(1)).as("n_found"))
      queries.select(col("vec_id").as("qid"))
        .join(perQ, Seq("qid"), "left").na.fill(0L, Seq("n_found"))
        .agg(count(lit(1)).as("n_queries"),
          (sum(when(col("n_found") >= 5, 1L).otherwise(0L)).cast("double")
            / count(lit(1)) >= 0.95).as("coverage_ok"))
    }),

    // stored-ANN-index incremental maintenance as a checked contract
    // (the admission-style key for AnnIndex.appendIvfq): build the
    // cid-partitioned int8 index + centroid sidecar on the corpus
    // MINUS a pinned batch, append the batch under the frozen stored
    // centroids, serve the pinned probe panel entirely from disk.
    // parity_ok = served results are IDENTICAL to an in-session
    // rebuild over the full corpus with the same centroids (append
    // and rebuild share one assignment function, so this is exact,
    // not approximate); recall_ok = the served answers clear the same
    // ≥0.5 recall contract every ANN family is gated on. Eager by
    // necessity: the index lives in a temp dir deleted before return
    "q_ann_append" -> ((s, d) => {
      import graft.functions.VectorOps
      val emb = Tables.embeddings(s, d)
      // pinned ≤100-row batch (pipeline config, the q_dedup_incr_*
      // convention), disjoint from the %100 probe panel
      val batch = emb.filter(pmod(col("vec_id"), lit(20)) === 13
        && col("vec_id") < 2000)
      val old = emb.join(batch.select("vec_id"), Seq("vec_id"), "left_anti")
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      Materialize.withTempDir("graft_ann_append") { dir =>
        // the BASE index (corpus-minus-batch, frozen params) is a pure
        // function of the fixture, so it is built ONCE per session and
        // file-cloned here — q_ann_delete mutates the same base, which
        // is exactly how a deployment amortizes its stored index
        // (graft.IndexMemo; the mutation+serve contract runs on the
        // private clone, untouched)
        graft.IndexMemo.cloneDir(ivfqBaseKey(d), dir)(base =>
          AnnIndex.buildIvfqIndex(old, base, nlist = 16))
        val centroids = AnnIndex.readCentroids(s, dir)
        AnnIndex.appendIvfq(batch, dir)
        // |Q|·k result sets are contract-sized: collect each pipeline
        // ONCE and run parity + recall driver-side (sameResults is
        // exceptAll-both-ways; recallOf is meanRecall) — one job per
        // pipeline instead of a job per check. The three pipelines
        // (stored serve, in-session rebuild twin, brute-force truth)
        // are INDEPENDENT reads once the append landed — run them as
        // concurrent job groups (the q_curate_media overlap rule)
        val fServed = bgJob(AnnIndex.ivfqTopKFromPath(s, dir, emb, queries,
          k = 5, nProbe = 4, rerank = 4).collect())
        // in-session rebuild twin: same centroids, full corpus —
        // ivfqRerank's cid fallback is the same assignment expression
        // the stored build uses
        val exact = emb.select(col("vec_id"),
            VectorOps.asDoubleArray(col("embedding")).as("cv"))
          .withColumn("cn", VectorOps.l2Norm(col("cv")))
        val fRebuilt = bgJob(Similarity.ivfqRerank(
          Similarity.quantizedCorpus(emb),
          exact, queries, centroids, k = 5, nProbe = 4, rerank = 4).collect())
        val fExactTopK = bgJob(
          Similarity.bruteForceTopK(emb, queries, k = 5).collect())
        val served = await(fServed)
        val parityOk = sameResults(served, await(fRebuilt))
        val (nQueries, recall) = recallOf(served, await(fExactTopK))
        import s.implicits._
        Seq((nQueries, recall >= 0.5, parityOk))
          .toDF("n_queries", "recall_ok", "parity_ok")
      }
    }),

    // tombstone DELETE on the stored IVF×int8 index (the lifecycle
    // twin of q_ann_append): build on the FULL corpus, deleteVectors
    // a pinned subset (one tombstone file, no index file touched),
    // serve the probe panel from disk. no_deleted_ok = no tombstoned
    // vector is ever returned; parity_ok = masked serving is
    // IDENTICAL to an in-session rebuild over the survivors under
    // the same centroids (same assignment function — exact, not
    // approximate); purge_ok = results are unchanged across the
    // physical purge AND the purge drains the tombstone file
    "q_ann_delete" -> ((s, d) => {
      import graft.functions.VectorOps
      val emb = Tables.embeddings(s, d)
      val deleted = emb.filter(pmod(col("vec_id"), lit(20)) === 13
        && col("vec_id") < 2000)
      val survivors = emb.join(deleted.select("vec_id"), Seq("vec_id"),
        "left_anti")
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      Materialize.withTempDir("graft_ann_delete") { dir =>
        // clone of the session-shared FULL-corpus index (the memoized
        // base + the pinned batch appended under the frozen fit —
        // row-identical to a fresh build with these centroids, since
        // append and rebuild share one assignment function); the
        // delete contract mutates the private clone, the k-means fit
        // and the append are paid once per session across the three
        // full-corpus consumers
        graft.IndexMemo.copyTree(ivfqFullDir(s, d), dir)
        val centroids = AnnIndex.readCentroids(s, dir)
        AnnIndex.deleteVectors(deleted.select("vec_id"), dir)
        // collect-once + driver-side checks (the q_ann_append shape);
        // the masked serve, the survivor rebuild twin, and the
        // deleted-id list are independent pipelines — concurrent job
        // groups, with the physical purge sequenced strictly AFTER the
        // masked serve it is compared against
        val fServed = bgJob(AnnIndex.ivfqTopKFromPath(s, dir, emb, queries,
          k = 5, nProbe = 4, rerank = 4).collect())
        val exact = survivors.select(col("vec_id"),
            VectorOps.asDoubleArray(col("embedding")).as("cv"))
          .withColumn("cn", VectorOps.l2Norm(col("cv")))
        val fRebuilt = bgJob(Similarity.ivfqRerank(
          Similarity.quantizedCorpus(survivors), exact, queries, centroids,
          k = 5, nProbe = 4, rerank = 4).collect())
        val fDelIds = bgJob(deleted.select(col("vec_id")).collect()
          .map(_.getLong(0)).toSet)
        val served = await(fServed)
        // fDelIds is awaited BEFORE the purge rewrites $dir/vectors;
        // fRebuilt reads only emb-derived frames and driver-side
        // centroids and MUST NEVER read `dir` — any future edit that
        // makes it read the index directory must also await it here
        // (ADVICE r16: silent file race otherwise)
        val delIds = await(fDelIds)
        AnnIndex.purgeIvfqDeletes(s, dir)
        val after = AnnIndex.ivfqTopKFromPath(s, dir, emb, queries,
          k = 5, nProbe = 4, rerank = 4).collect()
        val noDeleted =
          !served.exists(r => delIds(r.getAs[Long]("neighbor_id")))
        val parityOk = sameResults(served, await(fRebuilt))
        val purgeOk = sameResults(after, served) &&
          !new java.io.File(s"$dir/deletes").exists()
        import s.implicits._
        Seq((queries.count(), noDeleted, parityOk, purgeOk))
          .toDF("n_queries", "no_deleted_ok", "parity_ok", "purge_ok")
      }
    }),

    // UPSERT on the stored IVF×int8 index — replace-or-insert, the
    // read-modify-write every re-embedding pipeline runs (lifecycle
    // closure over q_ann_append + q_ann_delete): a pinned stratum's
    // embeddings are REPLACED (reversed vectors) and a disjoint id
    // range INSERTED, via delete→purge→append under the frozen
    // centroids. parity_ok = serving from the upserted index is
    // IDENTICAL to an in-session rebuild over the upserted corpus
    // under the same centroids; replace_ok = the replaced rows were
    // physically rewritten (the purge touched their cells);
    // replay_ok = re-upserting the same batch leaves served results
    // bit-identical (idempotent replays, the streaming-sink
    // contract)
    "q_ann_upsert" -> ((s, d) => {
      import graft.functions.VectorOps
      // project label away up front: the upserted corpus is a union
      // of original and re-embedded rows, and only (vec_id,
      // embedding) participates in the index lifecycle
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val stratum = emb.filter(pmod(col("vec_id"), lit(20)) === 7
        && col("vec_id") < 2000)
      val replaced = stratum.select(col("vec_id"),
        reverse(col("embedding")).as("embedding"))
      val inserted = stratum.select(
        (col("vec_id") + 10000000L).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
      val batch = replaced.unionByName(inserted)
      val upserted = emb
        .join(batch.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(batch)
      val queries = emb.filter(pmod(col("vec_id"), lit(100)) === 0
        && col("vec_id") < 2000)
      Materialize.withTempDir("graft_ann_upsert") { dir =>
        graft.IndexMemo.copyTree(ivfqFullDir(s, d), dir)
        val centroids = AnnIndex.readCentroids(s, dir)
        val purged = AnnIndex.upsertIvfq(batch, dir)
        // collect-once + driver-side checks (the q_ann_append shape);
        // the upserted corpus is read by three serve/rebuild
        // pipelines — cache it for the key's lifetime
        Materialize.withCached(upserted) {
          // eager cache fill: the two concurrent consumers below would
          // otherwise both compute the cold union (the cold-cache herd)
          upserted.count()
          // serve-from-disk and the rebuild twin are independent once
          // the upsert landed — concurrent job groups (the
          // q_ann_append overlap rule); the replay is sequenced after
          // the serve it is compared against
          val fServed = bgJob(AnnIndex.ivfqTopKFromPath(s, dir, upserted,
            queries, k = 5, nProbe = 4, rerank = 4).collect())
          val exact = upserted.select(col("vec_id"),
              VectorOps.asDoubleArray(col("embedding")).as("cv"))
            .withColumn("cn", VectorOps.l2Norm(col("cv")))
          val fRebuilt = bgJob(Similarity.ivfqRerank(
            Similarity.quantizedCorpus(upserted), exact, queries, centroids,
            k = 5, nProbe = 4, rerank = 4).collect())
          val served = await(fServed)
          val parityOk = sameResults(served, await(fRebuilt))
          AnnIndex.upsertIvfq(batch, dir) // replay the whole upsert
          val after = AnnIndex.ivfqTopKFromPath(s, dir, upserted, queries,
            k = 5, nProbe = 4, rerank = 4).collect()
          import s.implicits._
          Seq((queries.count(), parityOk, purged.nonEmpty,
              sameResults(after, served)))
            .toDF("n_queries", "parity_ok", "replace_ok", "replay_ok")
        }
      }
    }),

    // cross-doc duplicated-substring spans (Lee et al. exact-substring
    // dedup, span granularity): per-doc count of maximal duplicated
    // 8-gram spans + duplicated/kept token totals — the trim-don't-drop
    // remedy for boilerplate that whole-doc dedup cannot excise
    "q_dedup_substring" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val spans = Dedup.duplicatedSpans(docs, k = 8, minDocs = 2)
      val sizes = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_end") - col("span_start")).as("dup_tokens"))
        .join(sizes, Seq("doc_id"))
        .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
          (col("n_tokens") - col("dup_tokens")).as("kept_tokens"))
        .orderBy(col("doc_id"))
    }),

    // multimodal binary-column metadata (columnar arithmetic +
    // typed container-kind walk): media_kind is the crawl-ingest
    // rejection taxonomy — progressive JPEG counted DISTINCTLY from
    // corrupt, per-class planted by doc_id % 5 so the classification
    // is exactly oracled while Spark must walk the markers
    "q_multimodal_meta" -> ((s, d) =>
      Multimodal.mediaMeta(Tables.documents(s, d)).orderBy(col("doc_id"))),

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
    "q_multimodal_decode" -> ((s, d) => {
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
    }),

    // PROGRESSIVE JPEG decode end-to-end (SOF2 multi-scan: DC
    // successive approximation + refinement, per-component AC band
    // scans with EOB runs): every doc planted as the progressive twin
    // of the baseline fixture, decoded through the full §G.2 path,
    // per-channel means exactly oracled by the planted formulas
    "q_multimodal_progressive" -> ((s, d) => {
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
    }),

    // AUDIO decode end-to-end: every doc planted as a complete valid
    // RIFF/WAVE (LIST junk chunk with the even-padding rule, PCM fmt,
    // interleaved 16-bit LE data), decoded through the real chunk
    // walk; sum/sum-of-squares/peak of the signed samples are exact
    // integers, so the oracle replays the planted formula bit for bit
    "q_multimodal_audio" -> ((s, d) =>
      Multimodal.audioFeatures(
          Multimodal.withPlantedAudio(Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("sample_rate"), col("n_channels"),
          col("n_frames"), col("sum_amp"), col("sum_sq"), col("peak_amp"))
        .orderBy(col("doc_id"))),

    // int8 embedding quantization with per-vector distortion check:
    // every vector must reconstruct with cosine ≥ 0.995
    "q_embed_quant" -> ((s, d) => {
      EmbeddingQuant.quantReport(Tables.embeddings(s, d))
        .groupBy(col("quant_ok"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("quant_ok"))
    }),

    // multimodal batched resize (resolution-normalize step) on REAL
    // decoded pixels: PNG rows are fully decoded (inflate+unfilter),
    // JPEG rows baseline-decoded (Huffman+IDCT+color convert), then
    // nearest-neighbor-resampled to 16×16 RGB; the oracle replays
    // the exact resample index arithmetic over the planted pixel /
    // planted block formulas, so the byte_sum check covers decode
    // AND resample end to end for BOTH formats
    "q_multimodal_resize" -> ((s, d) => {
      import s.implicits._
      Multimodal.resizeTo(Multimodal.withPlantedMedia(Tables.documents(s, d)),
          w = 16, h = 16)
        .filter(_.pixels.nonEmpty)
        .map(r => (r.doc_id, r.pixels.length.toLong,
          r.pixels.foldLeft(0L)((acc, b) => acc + (b & 0xff))))
        .toDF("doc_id", "n_pixels", "byte_sum")
        .orderBy(col("doc_id"))
    }),

    // VIDEO end-to-end: every doc planted as a complete valid
    // RIFF/AVI container (real avih header, LIST movi, 00dc chunks
    // with the even-padding rule) whose frames are MJPEG — temporal
    // subsample every 2nd frame through the REAL chunk walk, then
    // full baseline-JPEG decode of each sampled frame; per-frame
    // channel means exactly oracled by the planted (doc_id, frame)
    // arithmetic (frame seed stride 8·11·13 keeps geometry constant
    // within a stream while the content formulas vary per frame)
    "q_multimodal_video" -> ((s, d) =>
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
        .orderBy(col("doc_id"), col("frame_idx"))),

    // multimodal frame sampling (video-pipeline temporal subsample):
    // frame COUNTS are byte-length arithmetic → oracle-checkable,
    // while the typed path carries the sampled frame payloads
    "q_multimodal_frames" -> ((s, d) => {
      Multimodal.sampleFrames(Multimodal.withBinary(Tables.documents(s, d)),
          frameBytes = 256, everyN = 4)
        .toDF()
        .select(col("doc_id"), col("n_frames"), col("n_sampled"))
        .orderBy(col("doc_id"))
    }),

    // BM25 lexical retrieval (the RAG / eval-retrieval primitive):
    // corpus-derived 3-term query, inverted-index postings join with
    // the tiny query-term table broadcast, per-(doc,term) score
    // e6-quantized before the integer per-doc sum, TakeOrdered top-10
    "q_bm25_topk" -> ((s, d) =>
      Retrieval.bm25TopK(Tables.documents(s, d), nQueryTerms = 3, k = 10)),

    // HYBRID RETRIEVAL — reciprocal-rank fusion of a sparse (BM25)
    // and a dense (cosine) ranking for one query document (its own
    // top-tf terms drive the lexical side, its embedding the vector
    // side — the standard RAG hybrid). Ranks, not raw scores, enter
    // the fusion, and rrf_e9 is exact integer math, so the whole key
    // is exactly oracled. Both sides are top-50 cuts (TakeOrdered),
    // the fusion join is query-sized, and the dense side is the
    // exact scorer only for oracle-ability — Retrieval.rrfFuse is
    // ranking-source agnostic and HybridRetrievalSpec proves the
    // IVF-ANN composition a deployment runs
    "q_retrieval_hybrid" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val qid = 42L
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") === qid), k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      val qterms = docs.filter(col("doc_id") === qid)
        .select(explode(TextOps.regexTokens(col("text"))).as("term"))
        .filter(!col("term").isin("the", "a", "of", "and", "in"))
        .groupBy(col("term")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("term")).limit(3)
      val sparseTop = Retrieval.bm25Scores(docs, qterms)
        .filter(col("doc_id") =!= qid)
        .orderBy(col("bm25_e6").desc, col("doc_id")).limit(50)
      // rank the 50-row cut (the window runs on a bounded frame)
      val sparse = sparseTop.withColumn("rank", row_number().over(
        Window.orderBy(col("bm25_e6").desc, col("doc_id"))).cast("long"))
      Retrieval.rrfFuse(sparse, dense, k = 10)
    }),

    // DEPLOYMENT-shaped hybrid retrieval (round-11 advice: promote
    // HybridRetrievalSpec's stored-index composition into an oracled
    // key): BOTH legs serve from disk — BM25 from the stored postings
    // index over the full corpus (memoized 2/3 base + append; the
    // derived-df serving path is bit-identical to inline, checked
    // here as sparse_parity_ok) and the dense leg from the stored
    // IVF×int8 index (memoized base + append = full corpus under the
    // frozen centroids) — then fused with the same exact-integer RRF.
    // q_retrieval_hybrid keeps the exact-value oracle (its dense leg
    // is exact cosine, DuckDB-recomputable); THIS key carries the
    // contract the exact key can't: the disk-served fusion's top-10
    // overlaps the exact-composition fusion on ≥6 of 10 (the ANN leg
    // is approximate, so set-equality would be a flaky lie — the
    // measured overlap is 9-10/10 at the gate SFs)
    "q_retrieval_hybrid_stored" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val qid = 42L
      // this key only SERVES, so it reads the session-shared
      // full-corpus indexes directly (no clone, no temp dir) — the
      // read-only half of the IndexMemo contract
      val bm25Dir = bm25FullDir(s, d)
      val annDir = ivfqFullDir(s, d)
      // dense leg FROM DISK (int8 stage 1 + bounded exact re-rank)
      val queryVec = emb.filter(col("vec_id") === qid)
      val denseStored = AnnIndex.ivfqTopKFromPath(s, annDir, emb,
        queryVec, k = 50, nProbe = 4, rerank = 4)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      // sparse leg FROM DISK, same query-term rule as the exact key
      val qterms = docs.filter(col("doc_id") === qid)
        .select(explode(TextOps.regexTokens(col("text"))).as("term"))
        .filter(!col("term").isin("the", "a", "of", "and", "in"))
        .groupBy(col("term")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("term")).limit(3)
        .collect().map(_.getString(0)).toSeq
      // k+1 then re-cut: dropping the query doc from a (k+1)-cut
      // equals cutting k from corpus-minus-query either way
      // the stored sparse leg feeds three consumers (fusion, the
      // bit-parity check, the exact-composition fusion) — cache it so
      // the postings scan + window run once, not three times
      val sparseStored = Retrieval.bm25TopKFromIndex(s, bm25Dir,
          qterms, k = 51)
        .filter(col("doc_id") =!= qid)
        .orderBy(col("bm25_e6").desc, col("doc_id")).limit(50)
        // rank the 50-row cut (the window runs on a bounded frame)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("bm25_e6").desc, col("doc_id"))).cast("long"))
      Materialize.withCached(sparseStored) {
        // materialize the shared sparse leg once, then run its four
        // consumers (two fusions, the inline-parity twin, the parity
        // collect) as concurrent job groups (the q_ann_append overlap
        // rule) — they are independent reads of cached/stored frames
        sparseStored.count()
        import s.implicits._
        val fFusedStored = bgJob(
          Retrieval.rrfFuse(sparseStored, denseStored, k = 10).collect())
        // contract 1: the stored sparse leg is BIT-identical to inline
        val fSparseInline = bgJob(
          Retrieval.bm25Scores(docs, qterms.toDF("term"))
            .filter(col("doc_id") =!= qid)
            .orderBy(col("bm25_e6").desc, col("doc_id")).limit(50)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
        val fSparseRows = bgJob(sparseStored
          .select(col("doc_id"), col("n_hit"), col("bm25_e6"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet)
        // contract 2: fusion overlap vs the exact composition
        val denseExact = Similarity.bruteForceTopK(emb, queryVec, k = 50)
          .select(col("neighbor_id").as("doc_id"), col("rank"))
        val fFusedExact = bgJob(
          Retrieval.rrfFuse(sparseStored, denseExact, k = 10)
            .collect().map(_.getLong(0)).toSet)
        val fusedStored = await(fFusedStored)
        val sparseParity = await(fSparseRows) == await(fSparseInline)
        val fusedExact = await(fFusedExact)
        val overlap = fusedStored.map(_.getLong(0)).count(fusedExact.contains)
        Seq((fusedStored.length.toLong, sparseParity, overlap >= 6))
          .toDF("n_rows", "sparse_parity_ok", "fusion_overlap_ok")
      }
    }),

    // stored-BM25-index INCREMENTAL MAINTENANCE, exactly oracled:
    // build the term-bucketed postings index on 2/3 of the corpus,
    // appendIndex the held-out 1/3 (touched buckets only + additive
    // stats merge), then serve from disk. The derived-df serving path
    // makes the result BIT-IDENTICAL to a full rebuild, so the oracle
    // is the full-corpus BM25 SQL itself — value parity, not a
    // contract boolean
    "q_retrieval_append" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Materialize.withTempDir("graft_bm25_append") { dir =>
        // the 2/3-corpus base index is session-memoized and file-cloned
        // (graft.IndexMemo — the tokenize+shuffle of the base build is
        // the dominant cost and a pure function of the fixture); the
        // APPEND under test still runs fresh on the private clone
        // the query-term probe depends only on the docs — run it as a
        // concurrent job group while the clone + append land (the
        // q_ann_append overlap rule)
        val fQterms = bgJob(Retrieval.dfCounts(docs)
          .filter(!col("term").isin("the", "a", "of", "and", "in"))
          .orderBy(col("df").desc, col("term")).limit(3)
          .collect().map(_.getString(0)).toSeq)
        graft.IndexMemo.cloneDir(bm25BaseKey(d), dir)(base =>
          Retrieval.buildIndex(docs.filter(col("doc_id") % 3 =!= 0), base))
        Retrieval.appendIndex(docs.filter(col("doc_id") % 3 === 0), dir)
        // same query-term rule as q_bm25_topk (3-row driver probe)
        val qterms = await(fQterms)
        // row-sized: k rows; the barrier outlives the temp dir
        Materialize.barrier(Retrieval.bm25TopKFromIndex(s, dir, qterms, k = 10))
      }
    }),

    // tombstone DELETE on the stored BM25 index: build on the FULL
    // corpus, deleteIndex a pinned quarter (one small tombstone file,
    // stats decremented, zero postings rewritten), serve from disk.
    // The pre-df-window anti-join makes served scores BIT-IDENTICAL
    // to a rebuild on the survivors, so the oracle is the BM25 SQL
    // over corpus-minus-deleted — value parity, not a contract bool
    "q_retrieval_delete" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Materialize.withTempDir("graft_bm25_delete") { dir =>
        // clone of the session-shared FULL-corpus index (memoized 2/3
        // base + held-out 1/3 appended — served scores after any
        // append sequence are BIT-IDENTICAL to a one-shot build,
        // RetrievalAppendSpec), so the delete contract is unchanged
        // while build AND append are paid once per session
        val live = docs.filter(col("doc_id") % 4 =!= 1)
        // q_bm25_topk's query-term rule over the SURVIVING corpus —
        // depends only on the docs, so it runs as a concurrent job
        // group while the clone + delete land (the q_ann_append
        // overlap rule)
        val fQterms = bgJob(Retrieval.dfCounts(live)
          .filter(!col("term").isin("the", "a", "of", "and", "in"))
          .orderBy(col("df").desc, col("term")).limit(3)
          .collect().map(_.getString(0)).toSeq)
        graft.IndexMemo.copyTree(bm25FullDir(s, d), dir)
        Retrieval.deleteIndex(
          docs.filter(col("doc_id") % 4 === 1).select(col("doc_id")), dir)
        val qterms = await(fQterms)
        // row-sized: k rows; the barrier outlives the temp dir
        Materialize.barrier(Retrieval.bm25TopKFromIndex(s, dir, qterms, k = 10))
      }
    }),

    // Johnson-Lindenstrauss signed random projection 64 -> 8 dims:
    // implicit LCG sign matrix (nothing broadcast), per-element e6
    // quantization before exact integer sums — the wide-vector
    // shrink step before ANN / clustering shuffles
    "q_embed_project" -> ((s, d) =>
      EmbeddingOps.projectSigned(Tables.embeddings(s, d), outDim = 8)
        .orderBy(col("vec_id"))),

    // BPE merge induction (tokenizer training): one corpus scan to
    // the word-frequency table, then 5 merge rounds over the
    // vocab-sized table only — (round, merged pair, count)
    "q_bpe_merges" -> ((s, d) =>
      Tokenizer.bpeLearn(Tables.documents(s, d), rounds = 5)),

    // BPE ENCODE (the apply half of the tokenizer): replay the 5
    // learned merges over the vocab, rank the final symbols into
    // deterministic ids, and emit each document's ordered
    // trained-tokenizer id sequence + its true token count
    "q_bpe_encode" -> ((s, d) =>
      Tokenizer.bpeEncode(Tables.documents(s, d), rounds = 5)
        .orderBy(col("doc_id"))),

    // unigram-LM tokenizer training (Kudo ACL'18 — the SentencePiece
    // alternative to BPE): seed substring candidates, soft-EM
    // (forward-backward expected counts) with between-phase pruning
    // to the vocab target. EM is not SQL-expressible, so the key is a
    // CONTRACT: cover_ok = every distinct corpus word Viterbi-
    // segments under the final model; loss_ok = the corpus
    // -log-likelihood is non-increasing across the EM iterations of
    // every fixed-vocabulary phase (the EM guarantee, measured);
    // size_ok = the final vocabulary fits the target; roundtrip_ok =
    // every word's best segmentation concatenates back to the word
    "q_unigram_lm" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = Unigram.learnUnigramMemo(docs, d, vocabSize = 256,
        seedSize = 2048)
      val scores = model.scores
      val enc = Unigram.unigramEncode(docs, model)
      val lt = model.lossTrail
      // within-phase monotonicity: iterations pair up (2 per phase)
      val lossOk = lt.grouped(2).forall(ph =>
        ph.length < 2 || ph(1) <= ph(0) * (1 + 1e-6) + 1e-6)
      val rtOk = enc.agg(min(col("roundtrip_ok"))).head().getBoolean(0)
      val coverOk = enc.filter(col("n_words") > 0 && col("n_pieces") === 0)
        .isEmpty
      val nDocs = docs.count()
      import s.implicits._
      Seq((nDocs, coverOk && scores.nonEmpty, lossOk,
        model.pieces.length <= 256, rtOk))
        .toDF("n_docs", "cover_ok", "loss_ok", "size_ok", "roundtrip_ok")
    }),

    // unigram-LM ENCODE (the apply half): Viterbi best segmentation
    // per DISTINCT word under the trained model, documents reassemble
    // through one doc-keyed shuffle. n_words is exactly SQL-derivable
    // (the regexTokens rule); the piece arithmetic rides as checked
    // booleans — bounded_ok = n_words <= n_pieces <= total word chars
    "q_unigram_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = Unigram.learnUnigramMemo(docs, d, vocabSize = 256,
        seedSize = 2048)
      Unigram.unigramEncode(docs, model)
        .select(col("doc_id"), col("n_words"),
          (col("n_pieces") >= col("n_words")).as("bounded_ok"),
          col("roundtrip_ok"))
        .orderBy(col("doc_id"))
    }),

    // pack with the UNIGRAM tokenizer's real token counts — the
    // q_pack_bpe symmetry for the session's other trained tokenizer:
    // encode (memoized model, Viterbi per distinct word) → n_pieces
    // per doc → the packChunks layout at seqLen 512. The EM-trained
    // segmentation has no SQL statement, so the oracle pins the exact
    // word counts and the key carries two NON-VACUOUS invariants
    // computed across stages: bounded_ok (a word never segments into
    // fewer than one piece → n_pieces ≥ n_words) and tile_ok (per
    // source, the highest chunk any doc touches + 1 equals
    // ⌈Σ n_tok / 512⌉ — true iff the cumsum layout has no gap and no
    // overlap, cross-checked with pure integer arithmetic)
    "q_pack_unigram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = Unigram.learnUnigramMemo(docs, d, vocabSize = 256,
        seedSize = 2048)
      val enc = Unigram.unigramEncode(docs, model)
        .select(col("doc_id"), col("n_words"), col("n_pieces"))
      val packed = Packing.packChunks(docs.join(enc, Seq("doc_id")),
        tokensCol = col("n_pieces"), seqLen = 512)
      val tiles = packed.groupBy(col("source")).agg(
          max(when(col("n_tok") > 0,
            col("chunk_id") + col("n_chunks"))).as("spanned"),
          sum(col("n_tok")).as("tot"))
        .select(col("source"),
          (coalesce(col("spanned"), lit(0L)) ===
            expr("(tot + 511) div 512")).as("tile_ok"))
      packed.join(enc.select(col("doc_id"), col("n_words")), Seq("doc_id"))
        .join(broadcast(tiles), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_words"),
          (col("n_tok") >= col("n_words")).as("bounded_ok"),
          col("tile_ok"))
        .orderBy(col("doc_id"))
    }),

    // concat-and-chunk packing fed by the TRAINED tokenizer's token
    // counts (q_pack_chunks's layout under real BPE lengths instead
    // of the bytes/4 estimate) — seq_len 512 so fixture docs span
    // multiple chunks
    "q_pack_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val enc = Tokenizer.bpeEncode(docs, rounds = 5)
        .select(col("doc_id"), col("n_tokens"))
      Packing.packChunks(docs.join(enc, Seq("doc_id")),
          tokensCol = col("n_tokens"), seqLen = 512)
        .orderBy(col("doc_id"))
    }),

    // HTML ingestion (crawl front door): planted single-line pages
    // over the documents table — script/style payloads, nav/footer
    // boilerplate, entities inside corpus text — extracted back to
    // clean text + the markup stats a curation stage filters on.
    // The oracle re-builds the same pages and extracts with RE2.
    "q_html_extract" -> ((s, d) =>
      Html.extract(Html.plantedPage(Tables.documents(s, d)), col("html"))
        .orderBy(col("doc_id")))
  )

  /** Full-corpus BM25 top-10 — shared verbatim by `q_bm25_topk`
    * (inline path) and `q_retrieval_append` (build + append + serve
    * from the stored index), because the derived-df serving path is
    * bit-identical to the inline computation. */
  private val bm25OracleSql = bm25OracleSqlOver("documents")

  /** The same BM25 SQL over an arbitrary corpus relation —
    * `q_retrieval_delete` oracles its tombstone-masked serving
    * against this text with the deleted quarter filtered out (the
    * serving path's bit-parity-with-rebuild claim, checked as VALUES
    * by DuckDB rather than a contract boolean). */
  private def bm25OracleSqlOver(src: String): String =
    s"WITH corpus AS (SELECT * FROM $src), " +
      "dt AS (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term " +
      "FROM corpus), " +
      "df AS (SELECT term, count(DISTINCT doc_id) AS df FROM dt GROUP BY 1), " +
      "q AS (SELECT term, df FROM df WHERE term NOT IN ('the','a','of','and','in') " +
      "ORDER BY df DESC, term LIMIT 3), " +
      "dl AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS dl " +
      "FROM corpus), " +
      "st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl), " +
      "tf AS (SELECT doc_id, dt.term, df, count(*) AS tf FROM dt JOIN q USING (term) " +
      "GROUP BY 1, 2, 3), " +
      "sc AS (SELECT tf.doc_id, CAST(floor(" +
      "ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) " +
      "* (CAST(tf AS DOUBLE) * (1.2 + 1.0) / (CAST(tf AS DOUBLE) " +
      "+ 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_docs))))) " +
      "* 1000000.0) AS BIGINT) AS score_e6 FROM tf JOIN dl USING (doc_id), st) " +
      "SELECT doc_id, count(*) AS n_hit, CAST(sum(score_e6) AS BIGINT) AS bm25_e6 " +
      "FROM sc GROUP BY 1 ORDER BY bm25_e6 DESC, doc_id LIMIT 10"

  private val toksSql = "string_split(text, ' ')"
  private val stopSql =
    s"len(list_filter($toksSql, t -> t IN ('the','a','of','and','in')))"

  /** DuckDB word-3-shingle list for the Jaccard oracle. */
  private val shinglesSql =
    "list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1), " +
      "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))"

  /** DuckDB twins of TextOps.qualityE6Col / langPredCol / normalize —
    * the float expression order matches the Spark side exactly. */
  private val qualitySql =
    s"CAST(floor((least(len($toksSql)/100.0, 1.0)*0.3 " +
      s"+ (CAST($stopSql AS DOUBLE)/len($toksSql))*0.4 " +
      s"+ least((CAST(n_chars AS DOUBLE)/len($toksSql))/8.0, 1.0)*0.3)*1000000) AS BIGINT)"
  private val langPredSql =
    s"CASE WHEN CAST($stopSql AS DOUBLE)/len($toksSql) >= 0.05 THEN 'en' ELSE 'unk' END"
  private val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g'))"

  private def cosSql(a: String, b: String): String =
    s"(list_aggregate(list_transform(range(1, len($a.embedding)+1), " +
      s"i -> CAST($a.embedding[i] AS DOUBLE)*CAST($b.embedding[i] AS DOUBLE)), 'sum') " +
      s"/ (sqrt(list_aggregate(list_transform($a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')) " +
      s"* sqrt(list_aggregate(list_transform($b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))))"

  def oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      ("SELECT min(doc_id) AS keep_id, count(*) AS n_copies, sha256(text) AS fp " +
        "FROM documents GROUP BY sha256(text) ORDER BY keep_id"),
    "q_text_stats" ->
      (s"SELECT doc_id, n_chars, CAST(len($toksSql) AS BIGINT) AS n_tokens, " +
        s"CAST(floor(CAST(n_chars AS DOUBLE)/len($toksSql)*1000000) AS BIGINT) AS chars_per_token_e6, " +
        s"CAST(floor(CAST($stopSql AS DOUBLE)/len($toksSql)*1000000) AS BIGINT) AS stopword_ratio_e6 " +
        "FROM documents ORDER BY doc_id"),
    "q_token_count" ->
      ("SELECT doc_id, CAST(len(regexp_extract_all(text,'[a-z0-9]+')) AS BIGINT) AS n_word_tokens, " +
        "CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) AS n_bpe_est " +
        "FROM documents ORDER BY doc_id"),
    "q_lang_id" ->
      (s"SELECT doc_id, lang AS lang_true, " +
        s"CASE WHEN CAST($stopSql AS DOUBLE)/len($toksSql) >= 0.05 THEN 'en' ELSE 'unk' END AS lang_pred, " +
        s"CAST(floor(CAST($stopSql AS DOUBLE)/len($toksSql)*1000000) AS BIGINT) AS en_score_e6 " +
        "FROM documents ORDER BY doc_id"),
    "q_quality_score" ->
      (s"SELECT doc_id, CAST(floor((least(len($toksSql)/100.0, 1.0)*0.3 " +
        s"+ (CAST($stopSql AS DOUBLE)/len($toksSql))*0.4 " +
        s"+ least((CAST(n_chars AS DOUBLE)/len($toksSql))/8.0, 1.0)*0.3)*1000000) AS BIGINT) AS quality_e6 " +
        "FROM documents ORDER BY doc_id"),
    "q_sample_stratified" ->
      ("SELECT doc_id, lang FROM documents " +
        "WHERE ((doc_id % 1000003) * 1103515245 + 12345) % 1000 " +
        "< CASE WHEN lang = 'en' THEN 300 ELSE 100 END ORDER BY doc_id"),
    "q_dedup_groups" ->
      ("SELECT doc_id, min(doc_id) OVER (PARTITION BY substr(text,1,40)) AS component, " +
        "doc_id = min(doc_id) OVER (PARTITION BY substr(text,1,40)) AS keep " +
        "FROM documents ORDER BY doc_id"),
    "q_dedup_quality" ->
      ("SELECT doc_id, min(doc_id) OVER (PARTITION BY substr(text,1,40)) AS component, " +
        "row_number() OVER (PARTITION BY substr(text,1,40) " +
        "ORDER BY length(text) DESC, doc_id) = 1 AS keep " +
        "FROM documents ORDER BY doc_id"),
    "q_dedup_incremental" ->
      ("WITH b AS (SELECT doc_id, substr(text,1,40) AS fp FROM documents WHERE doc_id % 3 = 0), " +
        "idx AS (SELECT DISTINCT substr(text,1,40) AS fp FROM documents WHERE doc_id % 3 <> 0), " +
        "cls AS (SELECT doc_id, fp, " +
        "CASE WHEN fp IN (SELECT fp FROM idx) THEN 'dup_of_index' " +
        "WHEN doc_id = min(doc_id) OVER (PARTITION BY fp) THEN 'novel' " +
        "ELSE 'dup_in_batch' END AS status FROM b) " +
        "SELECT doc_id, fp, status, status = 'novel' AS keep FROM cls ORDER BY doc_id"),
    "q_source_quality" ->
      (s"SELECT source, count(*) AS n_docs, " +
        s"CAST(sum($qualitySql) // count(*) AS BIGINT) AS mean_quality_e6, " +
        s"min($qualitySql) AS min_quality_e6, " +
        s"max($qualitySql) AS max_quality_e6 " +
        "FROM documents GROUP BY 1 ORDER BY 1"),
    "q_dup_sizes" ->
      ("WITH g AS (SELECT substr(text,1,40) AS fp, count(*) AS n_copies " +
        "FROM documents GROUP BY 1) " +
        "SELECT n_copies, count(*) AS n_groups FROM g " +
        "WHERE n_copies >= 2 GROUP BY 1 ORDER BY 1"),
    "q_vocab_coverage" ->
      ("WITH tr AS (SELECT unnest(string_split(text, ' ')) AS term " +
        "FROM documents WHERE doc_id % 4 <> 0), " +
        "v AS (SELECT term FROM (SELECT term, count(*) AS tf FROM tr " +
        "WHERE term <> '' GROUP BY 1) ORDER BY tf DESC, term LIMIT 20), " +
        "h AS (SELECT unnest(string_split(text, ' ')) AS term " +
        "FROM documents WHERE doc_id % 4 = 0), " +
        "hh AS (SELECT term FROM h WHERE term <> ''), " +
        "st AS (SELECT (SELECT count(*) FROM v) AS n_vocab, " +
        "(SELECT count(*) FROM hh) AS n_held_tokens, " +
        "(SELECT count(*) FROM hh WHERE term NOT IN (SELECT term FROM v)) AS n_oov) " +
        "SELECT n_vocab, n_held_tokens, n_oov, " +
        "n_oov * 1000000 // n_held_tokens AS oov_e6 FROM st"),
    "q_dup_sources" ->
      ("WITH f AS (SELECT substr(text,1,40) AS fp, source, count(*) AS n " +
        "FROM documents GROUP BY 1, 2) " +
        "SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared_fps " +
        "FROM f a JOIN f b ON a.fp = b.fp " +
        "WHERE a.source < b.source OR (a.source = b.source AND a.n >= 2) " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "q_dedup_incr_near" ->
      (s"WITH b AS (SELECT doc_id, $shinglesSql AS sh FROM documents WHERE doc_id % 3 = 0), " +
        s"i AS (SELECT doc_id, $shinglesSql AS sh FROM documents WHERE doc_id % 3 <> 0), " +
        "bx AS (SELECT doc_id, unnest(sh) AS s FROM b), " +
        "ix AS (SELECT doc_id, unnest(sh) AS s FROM i), " +
        "bn AS (SELECT doc_id, len(sh) AS n FROM b), " +
        "inz AS (SELECT doc_id, len(sh) AS n FROM i), " +
        "p AS (SELECT bx.doc_id AS a, ix.doc_id AS bd, count(*) AS inter " +
        "FROM bx JOIN ix ON bx.s = ix.s GROUP BY 1, 2), " +
        "e AS (SELECT DISTINCT a FROM p JOIN bn ON bn.doc_id = p.a " +
        "JOIN inz ON inz.doc_id = p.bd " +
        "WHERE CAST(inter AS DOUBLE)/(bn.n + inz.n - inter) >= 0.5) " +
        "SELECT (SELECT count(*) FROM b) AS n_batch, " +
        "(SELECT count(*) FROM e) AS n_exact, " +
        "TRUE AS sound, TRUE AS recall_ok"),
    "q_fingerprint" ->
      ("SELECT doc_id, md5(text) AS fp_md5, substr(md5(text),1,16) AS fp64 " +
        "FROM documents ORDER BY doc_id"),
    "q_text_normalize" ->
      ("SELECT doc_id, " +
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), " +
        "'  +', ' ', 'g')) AS norm_text, " +
        "length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), " +
        "'  +', ' ', 'g'))) AS n_norm_chars " +
        "FROM documents ORDER BY doc_id"),
    "q_pack_chunks" ->
      ("WITH tok AS (SELECT doc_id, source, " +
        "CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) AS n_tok FROM documents), " +
        "off AS (SELECT doc_id, source, n_tok, " +
        "CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok " +
        "FROM tok) " +
        "SELECT doc_id, source, n_tok, start_tok, " +
        "start_tok // 2048 AS chunk_id, " +
        "CASE WHEN n_tok = 0 THEN 0 ELSE " +
        "(start_tok + n_tok - 1) // 2048 - start_tok // 2048 + 1 END AS n_chunks " +
        "FROM off ORDER BY doc_id"),
    "q_pack_segments" ->
      ("WITH tok AS (SELECT doc_id, source, " +
        "CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) AS n_tok FROM documents), " +
        "off AS (SELECT doc_id, source, n_tok, " +
        "CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok " +
        "FROM tok), " +
        "seg AS (SELECT source, doc_id, n_tok, start_tok, " +
        "unnest(range(start_tok // 2048, (start_tok + n_tok - 1) // 2048 + 1)) AS chunk_id " +
        "FROM off WHERE n_tok > 0) " +
        "SELECT source, chunk_id, doc_id, " +
        "greatest(start_tok, chunk_id*2048) - start_tok AS tok_start, " +
        "least(start_tok + n_tok, (chunk_id+1)*2048) - greatest(start_tok, chunk_id*2048) AS tok_len, " +
        "greatest(start_tok, chunk_id*2048) - chunk_id*2048 AS chunk_off " +
        "FROM seg ORDER BY source, chunk_id, doc_id"),
    "q_chunk_overlap" ->
      ("WITH tok AS (SELECT doc_id, " +
        "CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT) AS n_tok FROM documents), " +
        "k AS (SELECT doc_id, n_tok, CASE WHEN n_tok <= 64 THEN 1 " +
        "ELSE (n_tok - 64 + 47) // 48 + 1 END AS n_win " +
        "FROM tok WHERE n_tok > 0), " +
        "w AS (SELECT doc_id, n_tok, unnest(range(n_win)) AS win_id FROM k) " +
        "SELECT doc_id, win_id, win_id*48 AS win_start, " +
        "CAST(least(64, n_tok - win_id*48) AS BIGINT) AS win_len " +
        "FROM w ORDER BY doc_id, win_id"),
    "q_embed_centroid" ->
      ("WITH ex AS (SELECT label, unnest(embedding) AS x, " +
        "CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos FROM embeddings) " +
        "SELECT label, pos, " +
        "round(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) / count(*), 6) AS v, " +
        "count(*) AS n_vecs FROM ex GROUP BY label, pos ORDER BY label, pos"),
    "q_source_mix" ->
      ("WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1), " +
        "r AS (SELECT source, least(1000, 15000 // n) AS rate FROM c) " +
        "SELECT d.source, count(*) AS n_kept FROM documents d JOIN r USING (source) " +
        "WHERE ((doc_id % 1000003) * 1103515245 + 12345) % 1000 < rate " +
        "GROUP BY d.source ORDER BY d.source"),
    "q_pii_redact" ->
      ("WITH p AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) " +
        "|| '@' || source || '.net tel 555-' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS t " +
        "FROM documents) " +
        "SELECT doc_id, " +
        "regexp_replace(regexp_replace(t, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'), " +
        "'[0-9]{3}-[0-9]{4,6}', '<NUM>', 'g') AS red_text, " +
        "CAST(len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.]+')) AS BIGINT) AS n_emails, " +
        "CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{4,6}')) AS BIGINT) AS n_phones " +
        "FROM p ORDER BY doc_id"),
    // plant + canonicalization replayed rule for rule; the tracking
    // strip needs the 'g' flag here (DuckDB regexp_replace is
    // first-match by default, Spark's is global), so the Spark-SQL
    // twin lives in SparkSqlTwins with the 3-arg form
    "q_url_canon" ->
      ("WITH u AS (SELECT doc_id, " +
        "(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'HTTP' WHEN 1 THEN 'http' " +
        "WHEN 2 THEN 'HTTPS' ELSE 'https' END) || '://' || " +
        "(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'WWW.' WHEN 1 THEN 'www.' " +
        "ELSE '' END) || " +
        "(CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END) || '.Example.COM' || " +
        "(CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN ':80' WHEN 1 THEN ':443' " +
        "WHEN 2 THEN ':8080' ELSE '' END) || " +
        "'/art/' || CAST(doc_id % 40 AS VARCHAR) || " +
        "(CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END) || " +
        "(CASE CAST(doc_id % 3 AS INT) " +
        "WHEN 0 THEN '?utm_source=feed&utm_medium=rss&id=' || CAST(doc_id % 7 AS VARCHAR) " +
        "WHEN 1 THEN '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=x' " +
        "ELSE '?id=' || CAST(doc_id % 7 AS VARCHAR) END) || " +
        "(CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END) AS url FROM documents), " +
        "c AS (SELECT doc_id, " +
        "lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme, " +
        "lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)) AS hostport, " +
        "regexp_replace(url, '^[A-Za-z]+://[^/?#]*', '') AS rest FROM u), " +
        "c2 AS (SELECT doc_id, scheme, " +
        "CASE WHEN scheme = 'http' THEN " +
        "regexp_replace(regexp_replace(hostport, '^www[.]', ''), ':80$', '') " +
        "WHEN scheme = 'https' THEN " +
        "regexp_replace(regexp_replace(hostport, '^www[.]', ''), ':443$', '') " +
        "ELSE regexp_replace(hostport, '^www[.]', '') END AS host, " +
        "regexp_replace(rest, '#.*$', '') AS nofrag FROM c), " +
        "c3 AS (SELECT doc_id, scheme, host, " +
        "regexp_replace(regexp_extract(nofrag, '^([^?]*)', 1), '/+$', '') AS path2, " +
        "regexp_replace(regexp_replace('&' || regexp_extract(nofrag, '[?](.*)$', 1), " +
        "'&(utm_[a-z0-9_]+|fbclid|gclid)=[^&]*', '', 'g'), '^&+', '') AS q2 FROM c2), " +
        "canon AS (SELECT host, scheme || '://' || host || path2 || " +
        "CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END AS canon_url FROM c3) " +
        "SELECT host, count(*) AS n_urls, count(DISTINCT canon_url) AS n_canon, " +
        "count(*) - count(DISTINCT canon_url) AS n_dup, " +
        "min(canon_url) AS sample_canon FROM canon GROUP BY host ORDER BY host"),
    "q_top_terms" ->
      ("WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM " +
        "(SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term " +
        "FROM documents) GROUP BY 1, 2), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df, " +
        "tf.tf * (n.n_docs // df.df) AS score FROM tf JOIN df USING (term), n " +
        "WHERE tf.term NOT IN ('the','a','of','and','in')), " +
        "r AS (SELECT sc.*, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY score DESC, tf DESC, term) AS rk FROM sc) " +
        "SELECT doc_id, rk, term, tf, df, score FROM r WHERE rk <= 3 " +
        "ORDER BY doc_id, rk"),
    "q_corpus_select" ->
      (s"WITH kept AS (SELECT doc_id, source, n_chars, md5($normSql) AS nk " +
        s"FROM documents WHERE $qualitySql >= 400000 AND $langPredSql = 'en'), " +
        "ded AS (SELECT *, row_number() OVER (PARTITION BY nk ORDER BY doc_id) AS rn " +
        "FROM kept) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CAST(ceil(CAST(n_chars AS DOUBLE)/4.0) AS BIGINT)) AS BIGINT) AS n_tokens_est " +
        "FROM ded WHERE rn = 1 GROUP BY source ORDER BY source"),
    "q_curate_e2e" ->
      (s"WITH cand AS (SELECT * FROM documents WHERE doc_id % 10 <> 0), " +
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
        "FROM tok GROUP BY source ORDER BY source"),
    // media gate + every curate stage re-derived: the planted media
    // verdicts are pure doc_id arithmetic (≡4/≡9/≡14 carriers drop to
    // their ≡0 sources; min-id keeps the source), so the gate is an
    // exact residue filter ahead of the shared chain — any wrong
    // verdict (missed twin, false drop) shifts the per-source report
    // and fails the hash compare
    "q_curate_media" ->
      (s"WITH cand AS (SELECT * FROM documents " +
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
        "FROM tok GROUP BY source ORDER BY source"),
    // host gate + every curate stage re-derived: the canonical URL
    // is computed ARITHMETICALLY from the plant (the only transform
    // the plant triggers is utm stripping), independent of the
    // engine's regex canonicalizer
    "q_curate_hosts" ->
      (s"WITH c AS (SELECT doc_id, source, " +
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
        "FROM tok GROUP BY source ORDER BY source"),
    "q_contamination" ->
      (s"WITH tr AS (SELECT doc_id, unnest($shinglesSql) AS s " +
        "FROM documents WHERE doc_id % 10 <> 0), " +
        s"ev AS (SELECT DISTINCT unnest($shinglesSql) AS s " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        "c AS (SELECT tr.doc_id, count(*) AS n_shingles, count(ev.s) AS n_overlap " +
        "FROM tr LEFT JOIN ev ON tr.s = ev.s GROUP BY 1) " +
        "SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, " +
        "CAST(n_overlap AS BIGINT) AS n_overlap, " +
        "n_overlap * 1000000 // n_shingles AS contam_e6, " +
        "n_overlap * 1000000 >= 100000 * n_shingles AS contaminated " +
        "FROM c ORDER BY doc_id"),
    "q_cooccur" ->
      ("WITH dt AS (SELECT DISTINCT doc_id, " +
        "unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term FROM documents), " +
        "ft AS (SELECT * FROM dt WHERE term NOT IN ('the','a','of','and','in')), " +
        "df AS (SELECT term, count(*) AS df FROM ft GROUP BY 1), " +
        "v AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT 50), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "vt AS (SELECT ft.doc_id, ft.term, v.df FROM ft JOIN v USING (term)), " +
        "p AS (SELECT x.term AS a, y.term AS b, x.df AS df_a, y.df AS df_b, " +
        "count(*) AS n_ab FROM vt x JOIN vt y ON x.doc_id = y.doc_id " +
        "AND x.term < y.term GROUP BY 1, 2, 3, 4) " +
        "SELECT a, b, df_a, df_b, n_ab, " +
        "n_ab * n_docs * 1000000 // (df_a * df_b) AS lift_e6 " +
        "FROM p, n ORDER BY lift_e6 DESC, a, b LIMIT 100"),
    "q_decontam_fuzzy" ->
      (s"WITH tr AS (SELECT doc_id, unnest($shinglesSql) AS s " +
        "FROM documents WHERE doc_id % 10 <> 0), " +
        s"ev AS (SELECT doc_id AS eval_id, unnest($shinglesSql) AS s " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        "tn AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY 1), " +
        "en AS (SELECT eval_id, count(*) AS n_ev FROM ev GROUP BY 1), " +
        "pj AS (SELECT tr.doc_id, ev.eval_id, count(*) AS inter " +
        "FROM tr JOIN ev USING (s) GROUP BY 1, 2), " +
        "j AS (SELECT pj.doc_id, pj.eval_id, " +
        "(inter * 1000000) // (n_sh + n_ev - inter) AS jac " +
        "FROM pj JOIN tn USING (doc_id) JOIN en USING (eval_id)), " +
        "b AS (SELECT doc_id, jac, eval_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY jac DESC, eval_id ASC) AS rn FROM j) " +
        "WHERE rn = 1) " +
        "SELECT tn.doc_id, CAST(tn.n_sh AS BIGINT) AS n_sh, " +
        "CAST(coalesce(b.jac, 0) AS BIGINT) AS best_jaccard_e6, " +
        "b.eval_id AS best_eval_id, " +
        "coalesce(b.jac, 0) >= 500000 AS contaminated " +
        "FROM tn LEFT JOIN b USING (doc_id) ORDER BY doc_id"),
    "q_quality_repetition" ->
      ("WITH w AS (SELECT doc_id, n_chars, string_split(text,' ') AS t FROM documents), " +
        "g AS (SELECT doc_id, n_chars, " +
        "unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gm " +
        "FROM w WHERE len(t) >= 2), " +
        "c AS (SELECT doc_id, n_chars, gm, count(*) AS cnt FROM g GROUP BY 1, 2, 3), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY cnt DESC, gm) AS rn FROM c), " +
        "a AS (SELECT doc_id, n_chars, sum(cnt) AS n_grams, count(*) AS n_distinct, " +
        "max(CASE WHEN rn = 1 THEN gm END) AS top_gram, " +
        "max(CASE WHEN rn = 1 THEN cnt END) AS top_cnt FROM r GROUP BY 1, 2) " +
        "SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, " +
        "CAST(n_distinct AS BIGINT) AS n_distinct, top_gram, " +
        "CAST(top_cnt AS BIGINT) AS top_cnt, " +
        "top_cnt * length(top_gram) * 1000000 // n_chars AS top_frac_e6, " +
        "CAST((n_grams - n_distinct) * 1000000 // n_grams AS BIGINT) AS dup_frac_e6 " +
        "FROM a ORDER BY doc_id"),
    "q_quality_lm" ->
      ("WITH w AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "bg AS (SELECT doc_id, " +
        "unnest(list_transform(range(1, len(t)), i -> t[i])) AS w0, " +
        "unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w1 " +
        "FROM w WHERE len(t) >= 2), " +
        "c2 AS (SELECT w0, w1, count(*) AS c2 FROM bg GROUP BY 1, 2), " +
        "c1 AS (SELECT w0, sum(c2) AS c1 FROM c2 GROUP BY 1), " +
        "v AS (SELECT count(DISTINCT w1) AS v FROM c2), " +
        "sc AS (SELECT bg.doc_id, " +
        "CAST(floor(ln((c2.c2 + 1.0) / (c1.c1 + v.v)) * 1e9) AS BIGINT) AS lp " +
        "FROM bg JOIN c2 USING (w0, w1) JOIN c1 USING (w0) CROSS JOIN v) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "CAST((-sum(lp)) // (count(*) * 1000) AS BIGINT) AS nll_e6 " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id"),
    // Kneser-Ney-lite: absolute discount 0.75 + continuation backoff;
    // the float expression parenthesization matches the Spark side
    // verbatim (then e9-floored before any sum)
    "q_quality_lm_kn" ->
      ("WITH w AS (SELECT doc_id, string_split(text,' ') AS t FROM documents), " +
        "bg AS (SELECT doc_id, " +
        "unnest(list_transform(range(1, len(t)), i -> t[i])) AS w0, " +
        "unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS w1 " +
        "FROM w WHERE len(t) >= 2), " +
        "c2 AS (SELECT w0, w1, count(*) AS c2 FROM bg GROUP BY 1, 2), " +
        "c1 AS (SELECT w0, sum(c2) AS c1, count(*) AS nf FROM c2 GROUP BY 1), " +
        "np AS (SELECT w1, count(*) AS np FROM c2 GROUP BY 1), " +
        "nbt AS (SELECT count(*) AS nbt FROM c2), " +
        "sc AS (SELECT bg.doc_id, " +
        "CAST(floor(ln(((c2.c2 - 0.75) + 0.75 * c1.nf * " +
        "(CAST(np.np AS DOUBLE) / nbt.nbt)) / c1.c1) * 1e9) AS BIGINT) AS lp " +
        "FROM bg JOIN c2 USING (w0, w1) JOIN c1 USING (w0) " +
        "JOIN np USING (w1) CROSS JOIN nbt) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "CAST((-sum(lp)) // (count(*) * 1000) AS BIGINT) AS nll_e6 " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id"),
    "q_select_dsir" ->
      ("WITH toks AS (SELECT doc_id, source = 'src0' AS is_t, " +
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
        "GROUP BY doc_id ORDER BY w_e9 DESC, doc_id LIMIT 20"),
    // the fitted separator is engine-side (deterministic GD); n is
    // the training-row count, the accuracy contract a boolean
    "q_quality_classifier" ->
      "SELECT CAST(count(*) AS BIGINT) AS n, TRUE AS acc_ok FROM documents",
    "q_sample_group" ->
      ("WITH r AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source " +
        "ORDER BY ((doc_id % 1000003) * 1103515245 + 12345) % 1000003, doc_id) AS rk " +
        "FROM documents) " +
        "SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5 " +
        "ORDER BY source, rk"),
    "q_train_order" ->
      ("WITH k AS (SELECT doc_id, " +
        "((doc_id % 1000003) * 1103515245 + 12345) % 1000003 AS okey FROM documents) " +
        "SELECT doc_id, okey, okey % 8 AS shard, " +
        "CAST(row_number() OVER (PARTITION BY okey % 8 ORDER BY okey, doc_id) - 1 " +
        "AS BIGINT) AS pos FROM k ORDER BY doc_id"),
    "q_minhash_est" ->
      (s"WITH sub AS (SELECT doc_id, $shinglesSql AS sh FROM documents WHERE doc_id % 20 = 0), " +
        "ex AS (SELECT doc_id, unnest(sh) AS s FROM sub), " +
        "pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter " +
        "FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
        "SELECT count(*) AS n_pairs, TRUE AS viol_rate_ok, TRUE AS mean_err_ok " +
        "FROM pairs WHERE inter >= 1"),
    "q_ngram_jaccard" ->
      (s"WITH sub AS (SELECT doc_id, $shinglesSql AS sh FROM documents WHERE doc_id % 20 = 0), " +
        "ex AS (SELECT doc_id, unnest(sh) AS s FROM sub), " +
        "sizes AS (SELECT doc_id, len(sh) AS n FROM sub), " +
        "pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter " +
        "FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
        "SELECT a, b, round(CAST(inter AS DOUBLE)/(sa.n + sb.n - inter),6) AS jaccard " +
        "FROM pairs JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b " +
        "WHERE inter >= 1 ORDER BY a, b"),
    "q_dedup_embedding" ->
      ("SELECT count(*) AS n_probes, TRUE AS sound, TRUE AS recall_ok " +
        "FROM embeddings WHERE vec_id % 50 = 0"),
    "q_dedup_image" ->
      ("SELECT (SELECT count(*) FROM documents) " +
        "+ (SELECT count(*) FROM documents WHERE doc_id % 20 = 0) AS n_images, " +
        "(SELECT count(*) FROM documents WHERE doc_id % 20 = 0) AS n_planted, " +
        "TRUE AS sound, TRUE AS recall_ok"),
    "q_dedup_audio" ->
      ("SELECT (SELECT count(*) FROM documents) " +
        "+ (SELECT count(*) FROM documents WHERE doc_id % 20 = 0) AS n_clips, " +
        "(SELECT count(*) FROM documents WHERE doc_id % 20 = 0) AS n_planted, " +
        "TRUE AS sound, TRUE AS recall_ok"),
    "q_dedup_video" ->
      ("SELECT (SELECT count(*) FROM documents) " +
        "+ (SELECT count(*) FROM documents WHERE doc_id % 20 = 0) " +
        "+ (SELECT count(*) FROM documents WHERE doc_id % 20 = 10) AS n_streams, " +
        "(SELECT count(*) FROM documents WHERE doc_id % 20 = 0) " +
        "+ (SELECT count(*) FROM documents WHERE doc_id % 20 = 10) AS n_planted, " +
        "TRUE AS sound, TRUE AS recall_ok"),
    "q_dedup_semantic" ->
      ("SELECT (SELECT count(*) FROM embeddings) " +
        "+ (SELECT count(*) FROM embeddings WHERE vec_id % 20 = 0) AS n_corpus, " +
        "(SELECT count(*) FROM embeddings WHERE vec_id % 20 = 0) AS n_planted, " +
        "TRUE AS sound, TRUE AS recall_ok"),
    "q_similarity_topk" ->
      (s"WITH scored AS (SELECT a.vec_id AS qid, b.vec_id AS neighbor_id, " +
        s"${cosSql("a", "b")} AS score " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id % 100 = 0 AND a.vec_id < 2000 AND a.vec_id <> b.vec_id), " +
        "ranked AS (SELECT qid, neighbor_id, score, " +
        "row_number() OVER (PARTITION BY qid ORDER BY score DESC, neighbor_id) AS rank FROM scored) " +
        "SELECT qid, rank, neighbor_id, round(score,6) AS score FROM ranked " +
        "WHERE rank <= 5 ORDER BY qid, rank"),
    "q_similarity_filtered" ->
      (s"WITH scored AS (SELECT a.vec_id AS qid, b.vec_id AS neighbor_id, " +
        s"${cosSql("a", "b")} AS score " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id % 100 = 0 AND a.vec_id < 2000 " +
        "AND a.label = b.label AND a.vec_id <> b.vec_id), " +
        "ranked AS (SELECT qid, neighbor_id, score, " +
        "row_number() OVER (PARTITION BY qid ORDER BY score DESC, neighbor_id) AS rank FROM scored) " +
        "SELECT qid, rank, neighbor_id, round(score,6) AS score FROM ranked " +
        "WHERE rank <= 5 ORDER BY qid, rank"),
    "q_multimodal_meta" ->
      ("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
        "CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS fake_width, " +
        "CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS fake_height, " +
        "CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'jpeg_baseline' " +
        "WHEN 1 THEN 'jpeg_progressive' WHEN 2 THEN 'jpeg_corrupt' " +
        "WHEN 3 THEN 'png' ELSE 'unknown' END AS media_kind " +
        "FROM documents ORDER BY doc_id"),
    "q_embed_quant" ->
      ("SELECT TRUE AS quant_ok, count(*) AS n_vecs FROM embeddings"),
    "q_similarity_lsh" ->
      ("SELECT count(*) AS n_queries, TRUE AS recall_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0 AND vec_id < 2000"),
    "q_similarity_ivf" ->
      ("SELECT count(*) AS n_queries, TRUE AS recall_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0 AND vec_id < 2000"),
    "q_similarity_ivfq" ->
      ("SELECT count(*) AS n_queries, TRUE AS recall_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0 AND vec_id < 2000"),
    "q_similarity_proj" ->
      ("SELECT count(*) AS n_queries, TRUE AS recall_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0 AND vec_id < 2000"),
    "q_similarity_graph" ->
      ("SELECT count(*) AS n_queries, TRUE AS recall_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0 AND vec_id < 2000"),
    "q_similarity_scaled" ->
      ("SELECT count(*) AS n_queries, TRUE AS coverage_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0"),
    "q_similarity_graph_scaled" ->
      ("SELECT count(*) AS n_queries, TRUE AS coverage_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0"),
    "q_similarity_proj_scaled" ->
      ("SELECT count(*) AS n_queries, TRUE AS coverage_ok FROM embeddings " +
        "WHERE vec_id % 100 = 0"),
    "q_ann_append" ->
      ("SELECT count(*) AS n_queries, TRUE AS recall_ok, TRUE AS parity_ok " +
        "FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000"),
    "q_dedup_incr_embed" ->
      ("SELECT CAST(2 * count(*) AS BIGINT) AS n_batch, TRUE AS sound, " +
        "TRUE AS recall_ok FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 2000"),
    "q_dedup_incr_semantic" ->
      ("SELECT CAST(2 * count(*) AS BIGINT) AS n_batch, TRUE AS sound, " +
        "TRUE AS recall_ok, TRUE AS reuse_ok " +
        "FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 2000"),
    // every stratum doc plants exactly one near twin + one far
    // variant (both re-encoded PNGs of an always-decodable planted
    // image), so n_batch is pure stratum arithmetic; the contract
    // booleans are engine-side (exact bipartite truth + catalog
    // reuse)
    "q_dedup_incr_image" ->
      ("SELECT CAST(2 * count(*) AS BIGINT) AS n_batch, TRUE AS sound, " +
        "TRUE AS recall_ok, TRUE AS reuse_ok " +
        "FROM documents WHERE doc_id % 20 = 0 AND doc_id < 2000"),
    "q_dedup_incr_audio" ->
      ("SELECT CAST(2 * count(*) AS BIGINT) AS n_batch, TRUE AS sound, " +
        "TRUE AS recall_ok, TRUE AS reuse_ok " +
        "FROM documents WHERE doc_id % 20 = 0 AND doc_id < 2000"),
    "q_dedup_incr_video" ->
      ("SELECT CAST(2 * count(*) AS BIGINT) AS n_batch, TRUE AS sound, " +
        "TRUE AS recall_ok, TRUE AS reuse_ok " +
        "FROM documents WHERE doc_id % 20 = 0 AND doc_id < 2000"),
    "q_multimodal_frames" ->
      ("SELECT doc_id, " +
        "CAST(ceil(octet_length(encode(text))/256.0) AS BIGINT) AS n_frames, " +
        "CAST(ceil(ceil(octet_length(encode(text))/256.0)/4.0) AS BIGINT) AS n_sampled " +
        "FROM documents ORDER BY doc_id"),
    // per sampled (doc, frame): the q_multimodal_decode JPEG block
    // arithmetic replayed at the frame seed doc_id + f·1144 — the
    // stride keeps w/h/pad constant within a stream (1144 ≡ 0 mod
    // 8, 11, 13) while luma/chroma vary per frame
    "q_multimodal_video" ->
      ("WITH d AS (SELECT doc_id, (doc_id*31+7) % 13 + 4 AS w, " +
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
        "FROM j ORDER BY doc_id, frame_idx"),
    "q_dedup_incr_bloom" ->
      ("SELECT count(*) AS n_batch, TRUE AS sound, TRUE AS loss_ok " +
        "FROM documents WHERE doc_id % 3 = 0"),
    "q_mixture_budget" ->
      ("WITH tok AS (SELECT doc_id, lang, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tk FROM documents), " +
        "tot AS (SELECT lang, sum(tk) AS tokn FROM tok GROUP BY 1), " +
        "w AS (SELECT * FROM (VALUES ('en', 600), ('zh', 100), ('es', 100), " +
        "('fr', 100), ('de', 100)) AS t(lang, wpm)), " +
        "r AS (SELECT tot.lang, least(1000, ((20000 * wpm) // 1000) * 1000 // tokn) AS rate_pm " +
        "FROM tot JOIN w ON tot.lang = w.lang), " +
        "kept AS (SELECT tok.doc_id, tok.lang, tok.tk, r.rate_pm FROM tok JOIN r ON tok.lang = r.lang " +
        "WHERE ((doc_id % 1000003) * 1103515245 + 12345) % 1000 < rate_pm) " +
        "SELECT lang, CAST(rate_pm AS BIGINT) AS rate_pm, count(*) AS n_docs, " +
        "CAST(sum(tk) AS BIGINT) AS est_tokens FROM kept GROUP BY 1, 2 ORDER BY 1"),
    "q_dedup_substring" ->
      ("WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents), " +
        "gr AS (SELECT doc_id, u.i - 1 AS pos, " +
        "concat_ws(' ', toks[u.i], toks[u.i+1], toks[u.i+2], toks[u.i+3], " +
        "toks[u.i+4], toks[u.i+5], toks[u.i+6], toks[u.i+7]) AS g " +
        "FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 6)) AS i) u), " +
        "dup AS (SELECT g FROM gr GROUP BY g HAVING count(DISTINCT doc_id) >= 2), " +
        "s AS (SELECT doc_id, pos FROM gr JOIN dup USING (g)), " +
        "isl AS (SELECT doc_id, pos, CASE WHEN " +
        "max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL " +
        "OR pos > max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) " +
        "THEN 1 ELSE 0 END AS ni FROM s), " +
        "isl2 AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl), " +
        "spans AS (SELECT doc_id, island, min(pos) AS st, max(pos) + 8 AS en FROM isl2 GROUP BY 1, 2), " +
        "summ AS (SELECT doc_id, count(*) AS n_spans, sum(en - st) AS dup_tokens FROM spans GROUP BY 1) " +
        "SELECT summ.doc_id, CAST(n_spans AS BIGINT) AS n_spans, " +
        "CAST(dup_tokens AS BIGINT) AS dup_tokens, " +
        "CAST(len(string_split(text,' ')) - dup_tokens AS BIGINT) AS kept_tokens " +
        "FROM summ JOIN documents ON summ.doc_id = documents.doc_id ORDER BY 1"),
    // the oracle replays the nearest-neighbor resample index math
    // over the planted content: out i → (c = i%3, X = (i//3)%16,
    // Y = i//48) sampled at (x = X·w//16, y = Y·h//16). Even docs
    // (PNG) use the per-pixel planted formula; odd docs (JPEG) use
    // the per-8×8-block planted luma + constant chroma through the
    // exact integer JFIF conversion — so the byte_sum verifies real
    // inflate+unfilter resp. Huffman+IDCT+color-convert, plus the
    // resample, end to end for both formats
    "q_multimodal_resize" ->
      ("WITH d AS (SELECT doc_id, (doc_id*31+7) % 13 + 4 AS w, " +
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
        "FROM d ORDER BY doc_id"),
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
    "q_multimodal_progressive" ->
      ("WITH d AS (SELECT doc_id, (doc_id*31+7) % 13 + 4 AS w, " +
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
        "FROM d JOIN j ON d.doc_id = j.doc_id ORDER BY d.doc_id"),
    // audio: replay the planted-sample formula over an unnested
    // frame×channel range — every aggregate is exact integer math
    "q_multimodal_audio" ->
      ("WITH g AS (SELECT doc_id, doc_id % 64 + 16 AS n, doc_id % 2 + 1 AS ch, " +
        "8000 + (doc_id % 3) * 4000 AS rate FROM documents), " +
        "s AS (SELECT doc_id, n, ch, rate, unnest(range(0, n * ch)) AS k FROM g), " +
        "v AS (SELECT doc_id, n, ch, rate, " +
        "(doc_id * 7919 + (k // ch) * 104729 + (k % ch) * 31337) % 65536 - 32768 AS amp FROM s) " +
        "SELECT doc_id, CAST(rate AS BIGINT) AS sample_rate, " +
        "CAST(ch AS BIGINT) AS n_channels, CAST(n AS BIGINT) AS n_frames, " +
        "CAST(sum(amp) AS BIGINT) AS sum_amp, CAST(sum(amp * amp) AS BIGINT) AS sum_sq, " +
        "CAST(max(abs(amp)) AS BIGINT) AS peak_amp " +
        "FROM v GROUP BY 1, 2, 3, 4 ORDER BY doc_id"),
    "q_multimodal_decode" ->
      ("WITH d AS (SELECT doc_id, (doc_id*31+7) % 13 + 4 AS w, " +
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
        "FROM d LEFT JOIN j ON d.doc_id = j.doc_id ORDER BY d.doc_id"),
    // BM25: same float parenthesization as Retrieval.bm25TopK, the
    // per-(doc,term) contribution e6-floored before the integer sum
    "q_bm25_topk" -> bm25OracleSql,
    // hybrid: doc 42's top-tf terms → BM25 ranks (same scoring
    // fragments as bm25OracleSql); its embedding → exact cosine
    // ranks; integer RRF over the two top-50 cuts
    "q_retrieval_hybrid" ->
      ("WITH dt AS (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term " +
        "FROM documents), " +
        "q AS (SELECT term FROM dt WHERE doc_id = 42 " +
        "AND term NOT IN ('the','a','of','and','in') " +
        "GROUP BY term ORDER BY count(*) DESC, term LIMIT 3), " +
        "df AS (SELECT term, count(DISTINCT doc_id) AS df FROM dt GROUP BY 1), " +
        "dl AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS dl " +
        "FROM documents), " +
        "st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl), " +
        "tf AS (SELECT dt.doc_id, dt.term, df, count(*) AS tf FROM dt JOIN q USING (term) " +
        "JOIN df USING (term) GROUP BY 1, 2, 3), " +
        "sc AS (SELECT tf.doc_id, CAST(floor(" +
        "ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) " +
        "* (CAST(tf AS DOUBLE) * (1.2 + 1.0) / (CAST(tf AS DOUBLE) " +
        "+ 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_docs))))) " +
        "* 1000000.0) AS BIGINT) AS score_e6 FROM tf JOIN dl USING (doc_id), st), " +
        "bm AS (SELECT doc_id, sum(score_e6) AS bm25_e6 FROM sc WHERE doc_id <> 42 GROUP BY 1), " +
        "sp AS (SELECT doc_id, row_number() OVER (ORDER BY bm25_e6 DESC, doc_id) AS r_sparse " +
        "FROM bm ORDER BY bm25_e6 DESC, doc_id LIMIT 50), " +
        "dn0 AS (SELECT b.vec_id AS doc_id, " + cosSql("a", "b") + " AS score " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id = 42 AND b.vec_id <> 42), " +
        "dn AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_dense " +
        "FROM dn0 ORDER BY score DESC, doc_id LIMIT 50), " +
        "f AS (SELECT coalesce(sp.doc_id, dn.doc_id) AS doc_id, " +
        "coalesce(1000000000 // (60 + r_sparse), 0) + coalesce(1000000000 // (60 + r_dense), 0) AS rrf_e9, " +
        "coalesce(r_sparse, 0) AS r_sparse, coalesce(r_dense, 0) AS r_dense " +
        "FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id) " +
        "SELECT doc_id, CAST(rrf_e9 AS BIGINT) AS rrf_e9, " +
        "CAST(r_sparse AS BIGINT) AS r_sparse, CAST(r_dense AS BIGINT) AS r_dense " +
        "FROM f ORDER BY rrf_e9 DESC, doc_id LIMIT 10"),
    // the append key serves the SAME full-corpus ranking from the
    // incrementally-maintained stored index — identical oracle text
    "q_retrieval_append" -> bm25OracleSql,
    "q_retrieval_hybrid_stored" ->
      ("SELECT CAST(10 AS BIGINT) AS n_rows, TRUE AS sparse_parity_ok, " +
        "TRUE AS fusion_overlap_ok"),
    "q_retrieval_delete" ->
      // the subquery alias is required by Spark's parser (SqlParity
      // runs this text through spark.sql too) and harmless to DuckDB
      bm25OracleSqlOver("(SELECT * FROM documents WHERE doc_id % 4 <> 1) AS live"),
    "q_ann_delete" ->
      ("SELECT count(*) AS n_queries, TRUE AS no_deleted_ok, " +
        "TRUE AS parity_ok, TRUE AS purge_ok " +
        "FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000"),
    "q_ann_upsert" ->
      ("SELECT count(*) AS n_queries, TRUE AS parity_ok, " +
        "TRUE AS replace_ok, TRUE AS replay_ok " +
        "FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000"),
    // JL signed projection: the implicit xorshift-multiply sign
    // matrix recomputed in SQL (exact 64-bit integer math, every
    // intermediate < 2^52 so DuckDB's strict BIGINT never overflows);
    // unnest + generate_subscripts MUST share one SELECT (either
    // alone in a subquery re-expands per row)
    "q_embed_project" ->
      ("WITH ux AS (SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos, " +
        "unnest(embedding) AS x FROM embeddings), " +
        "ex AS (SELECT vec_id, pos, CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS q " +
        "FROM ux), " +
        "hj AS (SELECT vec_id, q, j, (pos*131 + j)*2654435761 + 12345 AS h1 " +
        "FROM ex CROSS JOIN (SELECT unnest(range(8)) AS j) t), " +
        "h2t AS (SELECT vec_id, q, j, " +
        "(xor(h1, h1 >> 13) % 1048573)*2654435761 + 999983 AS h2 FROM hj), " +
        "sg AS (SELECT vec_id, j, " +
        "CASE WHEN xor(h2, h2 >> 17) % 2 = 0 THEN q ELSE -q END AS sq FROM h2t) " +
        "SELECT vec_id, " +
        (0 until 8).map(j =>
          s"CAST(sum(CASE WHEN j = $j THEN sq END) AS BIGINT) AS p${j}_e6").mkString(", ") +
        " FROM sg GROUP BY vec_id ORDER BY vec_id"),
    "q_bpe_merges" -> bpeOracleSql(5),
    "q_unigram_lm" ->
      ("SELECT count(*) AS n_docs, TRUE AS cover_ok, TRUE AS loss_ok, " +
        "TRUE AS size_ok, TRUE AS roundtrip_ok FROM documents"),
    "q_unigram_encode" ->
      ("SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text,'[a-z0-9]+')) AS BIGINT) AS n_words, " +
        "TRUE AS bounded_ok, TRUE AS roundtrip_ok " +
        "FROM documents ORDER BY doc_id"),
    "q_pack_unigram" ->
      ("SELECT doc_id, source, " +
        "CAST(len(regexp_extract_all(text,'[a-z0-9]+')) AS BIGINT) AS n_words, " +
        "TRUE AS bounded_ok, TRUE AS tile_ok " +
        "FROM documents ORDER BY doc_id"),
    "q_bpe_encode" -> bpeEncodeOracleSql(5),
    "q_pack_bpe" -> bpePackOracleSql(5, 512),
    "q_html_extract" -> htmlExtractOracleSql
    // q_dedup_minhash / q_dedup_simhash: engine-hash semantics — rows-only.
  )

  /** The unrolled-CTE BPE induction chain shared by the three BPE
    * oracles: round r counts adjacent symbol pairs of wf(r-1)
    * (1-based array indexing), takes the (cnt desc, pair asc)
    * argmax, and rewrites via `replace` over the delimiter-wrapped
    * symbol string ("<a><b><c>", see Tokenizer.wordFreq) — with
    * per-symbol wrapping, plain non-overlapping left-to-right
    * `replace` IS the reference greedy merge. `finalWf` additionally
    * materializes wf`rounds` (the fully-merged vocab the ENCODE
    * oracles read; the merges oracle stops at the argmaxes). */
  private def bpeChainSql(rounds: Int, finalWf: Boolean): String = {
    val sb = new StringBuilder
    sb ++= ("WITH wf0 AS (SELECT word, regexp_replace(word, '(.)', '<\\1>', 'g') AS sym, n " +
      "FROM (SELECT word, count(*) AS n FROM " +
      "(SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word FROM documents) GROUP BY 1))")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb ++= s", tk$r AS (SELECT regexp_extract_all(sym, '[^<>]+') AS tk, n FROM wf$p)"
      sb ++= (s", pc$r AS (SELECT tk[i] AS a, tk[i+1] AS b, CAST(sum(n) AS BIGINT) AS cnt " +
        s"FROM (SELECT tk, n, unnest(range(1, len(tk))) AS i FROM tk$r) GROUP BY 1, 2)")
      sb ++= s", top$r AS (SELECT a, b, cnt FROM pc$r ORDER BY cnt DESC, a, b LIMIT 1)"
      if (r < rounds || finalWf)
        sb ++= (s", wf$r AS (SELECT word, replace(sym, (SELECT '<' || a || '><' || b || '>' FROM top$r), " +
          s"(SELECT '<' || a || b || '>' FROM top$r)) AS sym, n FROM wf$p)")
    }
    sb.toString
  }

  private def bpeOracleSql(rounds: Int): String = {
    val sb = new StringBuilder(bpeChainSql(rounds, finalWf = false))
    sb ++= " SELECT * FROM ("
    sb ++= (1 to rounds).map(r =>
      s"SELECT $r AS round, a AS pair_a, b AS pair_b, cnt FROM top$r").mkString(" UNION ALL ")
    sb ++= ") ORDER BY round"
    sb.toString
  }

  /** BPE-encode oracle: rank the distinct final symbols
    * lexicographically into ids, join each word's ordered symbols to
    * ids, and reassemble each document's id sequence in (word pos,
    * symbol pos) order. unnest + generate_subscripts share one
    * SELECT (either alone in a subquery re-expands per row). */
  private def bpeEncodeOracleSql(rounds: Int): String =
    bpeChainSql(rounds, finalWf = true) +
      s", vocab AS (SELECT word, regexp_extract_all(sym, '[^<>]+') AS syms FROM wf$rounds)" +
      ", symtab AS (SELECT symbol, CAST(row_number() OVER (ORDER BY symbol) AS INT) AS tid " +
      "FROM (SELECT DISTINCT unnest(syms) AS symbol FROM vocab))" +
      ", wsym AS (SELECT word, generate_subscripts(syms, 1) AS spos, unnest(syms) AS symbol FROM vocab)" +
      ", wids AS (SELECT word, string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY spos) AS wids, " +
      "CAST(count(*) AS BIGINT) AS wn FROM wsym JOIN symtab USING (symbol) GROUP BY word)" +
      ", dw AS (SELECT doc_id, generate_subscripts(ws, 1) AS wpos, unnest(ws) AS word " +
      "FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ws FROM documents))" +
      " SELECT d.doc_id, CAST(coalesce(sum(j.wn), 0) AS BIGINT) AS n_tokens, " +
      "coalesce(string_agg(j.wids, ' ' ORDER BY j.wpos), '') AS token_ids " +
      "FROM documents d LEFT JOIN (SELECT dw.doc_id, dw.wpos, wids.wids, wids.wn " +
      "FROM dw JOIN wids USING (word)) j ON d.doc_id = j.doc_id " +
      "GROUP BY d.doc_id ORDER BY d.doc_id"

  /** Trained-tokenizer packing oracle: the q_pack_chunks layout with
    * the bytes/4 estimate replaced by the BPE-encode token counts. */
  private def bpePackOracleSql(rounds: Int, seqLen: Int): String =
    bpeChainSql(rounds, finalWf = true) +
      s", wcnt AS (SELECT word, CAST(len(regexp_extract_all(sym, '[^<>]+')) AS BIGINT) AS wn FROM wf$rounds)" +
      ", dw AS (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word FROM documents)" +
      ", tok AS (SELECT d.doc_id, d.source, CAST(coalesce(sum(j.wn), 0) AS BIGINT) AS n_tok " +
      "FROM documents d LEFT JOIN (SELECT dw.doc_id, wcnt.wn FROM dw JOIN wcnt USING (word)) j " +
      "ON d.doc_id = j.doc_id GROUP BY d.doc_id, d.source)" +
      ", off AS (SELECT doc_id, source, n_tok, " +
      "CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok FROM tok) " +
      "SELECT doc_id, source, n_tok, start_tok, " +
      s"start_tok // $seqLen AS chunk_id, " +
      "CASE WHEN n_tok = 0 THEN 0 ELSE " +
      s"(start_tok + n_tok - 1) // $seqLen - start_tok // $seqLen + 1 END AS n_chunks " +
      "FROM off ORDER BY doc_id"

  /** HTML-extraction oracle: rebuild the planted page (the same
    * concatenation as Html.plantedPage), then extract with DuckDB's
    * RE2 — block drops in the operator's order, comment/tag strip,
    * entity decode with &amp; last, whitespace collapse. */
  private def htmlExtractOracleSql: String = {
    val page = "'<html><head><title>doc ' || doc_id || '</title>' || " +
      "'<style>body { color: #000; font: 12px; }</style>' || " +
      "'<script>var x = 1; if (x < 2) { x = \"&amp;\"; }</script>' || " +
      "'</head><body>' || " +
      "'<nav><ul><li><a href=\"/home\">home</a></li>" +
      "<li><a href=\"/about\">about</a></li></ul></nav>' || " +
      "'<h1>' || source || ' ' || doc_id || '</h1>' || " +
      "'<p>intro &amp; summary &lt;generated&gt;</p>' || " +
      "'<p>' || replace(text, 'spark', '&quot;spark&quot;') || '</p>' || " +
      "'<footer><a href=\"/tos\">terms</a> of use</footer>' || " +
      "'</body></html>'"
    val noBlocks = Seq("script", "style", "nav", "header", "footer", "aside")
      .foldLeft("html") { (c, t) =>
        s"regexp_replace($c, '(?i)<$t[^>]*>.*?</$t>', ' ', 'g')"
      }
    val noTags =
      s"regexp_replace(regexp_replace($noBlocks, '<!--.*?-->', ' ', 'g'), '<[^>]+>', ' ', 'g')"
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&apos;" -> "''", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, v)) => s"replace($c, '$e', '$v')" }
    s"WITH h AS (SELECT doc_id, $page AS html FROM documents), " +
      s"c AS (SELECT doc_id, html, trim(regexp_replace($decoded, ' +', ' ', 'g')) AS clean_text FROM h) " +
      "SELECT doc_id, clean_text, " +
      "CAST(length(clean_text) AS BIGINT) AS n_clean_chars, " +
      "CAST(len(regexp_extract_all(html, '<[^>]+>')) AS BIGINT) AS n_tags, " +
      "CAST(len(regexp_extract_all(html, '(?i)<a\\b[^>]*>')) AS BIGINT) AS n_links, " +
      "CAST(len(regexp_extract_all(html, '&[a-z]+;')) AS BIGINT) AS n_entities, " +
      "CAST(floor(CAST(length(clean_text) AS DOUBLE) / length(html) * 1000000) AS BIGINT) AS content_ratio_e6 " +
      "FROM c ORDER BY doc_id"
  }
}
