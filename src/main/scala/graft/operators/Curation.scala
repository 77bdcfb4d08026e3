package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the full pretraining data pipeline as
  * ONE composed dataflow — hold out the eval set, gate on quality and
  * language, exact-dedup on normalized text, DECONTAMINATE against
  * the eval set, rebalance the source mixture, and pack what's left
  * into fixed-length training sequences. The output is the per-source
  * curation report (docs, tokens, chunks) a run signs off on before
  * training.
  *
  * Every stage is an already-certified operator ([[TextOps]] gates,
  * [[Contamination.overlapReport]], [[Sampling.rebalanced]],
  * [[Packing.chunkSegments]]) — this composition certifies they
  * agree on one frame end-to-end, and its oracle cross-checks the
  * packing's tiling invariant: distinct chunks per source must equal
  * ceil(total_tokens / seqLen) computed independently.
  *
  * Scale shape: eval exclusion is a broadcast anti-join on ids; the
  * gates are one tokenize pass on the scan; the dedup window shuffles
  * (norm_key) with text riding along ONCE (the following shingle
  * pass needs it — same order of bytes as the shingle exchange
  * itself); contamination broadcasts the eval shingle set; rebalance
  * is a broadcast-rates LCG filter (no shuffle); packing is the
  * per-source window. No stage shuffles the corpus more than once.
  */
object Curation {

  def curate(docs: DataFrame, evalDocs: DataFrame,
             minQualityE6: Long = 400000L, keepLang: String = "en",
             contamThresholdE6: Long = 100000L,
             targetPerSource: Long = 15L, seqLen: Int = 2048): DataFrame =
    fromGated(gateStage(docs, evalDocs, minQualityE6, keepLang),
      evalDocs, contamThresholdE6, targetPerSource, seqLen)

  /** Stages 1-3 of [[curate]]: eval holdout + quality/language gates —
    * all per-row filters, so callers that gate on an INDEPENDENT
    * doc-id drop set (media verdicts) can compute this stage
    * concurrently with the verdicts and anti-join afterwards (the
    * anti-joins commute: every stage here evaluates each row on its
    * own columns only). */
  private[graft] def gateStage(docs: DataFrame, evalDocs: DataFrame,
                               minQualityE6: Long = 400000L,
                               keepLang: String = "en"): DataFrame = {
    // 1. hold out eval: never train on (or dedup against) held-out ids
    // (r17: spread first — the gate-scale documents parquet arrives as
    // ONE split, so the tokenize pass below ran as a single 0.4 s task
    // on a 32-core session; at 100 TB the scan is already wide and
    // spreadIfNarrow passes it through shuffle-free)
    val candidates = graft.Tables.spreadIfNarrow(docs)
      .join(broadcast(evalDocs.select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
    // 2-3. quality + language gates (one tokenize pass)
    TextOps.gatedDocs(candidates, minQualityE6, keepLang,
      keep = Seq("doc_id", "source", "n_chars", "text"))
  }

  /** Stages 4-7 of [[curate]] over an already-gated frame. */
  private[graft] def fromGated(gated: DataFrame, evalDocs: DataFrame,
                               contamThresholdE6: Long = 100000L,
                               targetPerSource: Long = 15L,
                               seqLen: Int = 2048): DataFrame = {
    // 4. exact dedup on normalized text: min doc_id per key survives
    val w = Window.partitionBy(col("norm_key")).orderBy(col("doc_id"))
    val ded = gated.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
    // 5. decontamination: drop docs sharing ≥ threshold shingles w/ eval
    val contaminated = Contamination
      .overlapReport(ded, evalDocs, contamThresholdE6)
      .filter(col("contaminated")).select(col("doc_id"))
    val clean = ded.join(contaminated, Seq("doc_id"), "left_anti")
    // 6. source-mixture rebalance (data-derived integer rates)
    val balanced = Sampling.rebalanced(clean, idCol = "doc_id",
      strataCol = "source", targetPerStratum = targetPerSource)
    // 7. pack into fixed-length sequences; report per source
    val segments = Packing.chunkSegments(balanced,
      tokensCol = ceil(col("n_chars").cast("double") / 4.0).cast("long"),
      seqLen = seqLen)
    segments.groupBy(col("source")).agg(
      countDistinct(col("doc_id")).as("n_docs"),
      sum(col("tok_len")).cast("long").as("n_tokens"),
      countDistinct(col("chunk_id")).as("n_chunks"))
  }

  /** MEDIA-governance gate composed into curation — how a multimodal
    * corpus run consumes the media near-dup verdicts
    * ([[MediaDedup.dedup]] of [[ImageDedup]], [[AudioDedup]] and
    * [[VideoDedup]]): a doc whose
    * attached image/audio/video was judged a near-dup of an earlier
    * doc's media is dropped WHOLE before any doc-level gate (its text
    * is a re-crawl/re-upload shell around duplicated media — the
    * media-side analogue of [[curateWithHostGate]]'s alias farms).
    * `mediaDrops` carries one `doc_id` per dropped doc — the union of
    * the per-modality `keep == false` verdicts, computed by the
    * caller, which owns the media columns and the verdict caches.
    *
    * Scale shape: the verdicts are doc-level (|media-carrying docs|
    * rows at most, drop-set far smaller); the gate is one anti-join
    * keyed on doc_id before [[curate]]'s single-shuffle-per-stage
    * budget — never an extra corpus shuffle, and the media bytes
    * themselves never enter this dataflow. */
  def curateWithMediaGate(docs: DataFrame, mediaDrops: DataFrame,
                          evalDocs: DataFrame,
                          minQualityE6: Long = 400000L,
                          keepLang: String = "en",
                          contamThresholdE6: Long = 100000L,
                          targetPerSource: Long = 15L,
                          seqLen: Int = 2048): DataFrame =
    mediaGateFromGated(
      gateStage(docs, evalDocs, minQualityE6, keepLang), mediaDrops,
      evalDocs, contamThresholdE6, targetPerSource, seqLen)

  /** [[curateWithMediaGate]] over an ALREADY-GATED frame — the
    * overlap entry point: the gate stage (eval holdout + one tokenize
    * pass) depends only on the docs, so a caller can compute it
    * CONCURRENTLY with the media-dedup verdicts and hand both here.
    * Equivalent to gating `docs minus mediaDrops`: stages 1-3 are
    * per-row filters, so the doc-id anti-join commutes across them
    * (row sets equal, downstream chain identical). */
  private[graft] def mediaGateFromGated(gated: DataFrame,
                                        mediaDrops: DataFrame,
                                        evalDocs: DataFrame,
                                        contamThresholdE6: Long = 100000L,
                                        targetPerSource: Long = 15L,
                                        seqLen: Int = 2048): DataFrame = {
    val kept = gated.join(mediaDrops.select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    fromGated(kept, evalDocs, contamThresholdE6, targetPerSource, seqLen)
  }

  /** HOST-governance gate composed into curation — how crawl
    * curation actually consumes [[UrlOps]]: a host whose URL-alias
    * pressure (duplicate surplus / raw count) reaches
    * `maxHostDupE6` is dropped WHOLE, before any doc-level gate (an
    * alias-farm host poisons every downstream stage and its docs
    * are near-copies of each other anyway; CommonCrawl-style
    * curation blocklists it at the frontier). `urls` carries
    * (doc_id, url) for the same corpus.
    *
    * Scale shape: canonicalization is a per-row codegen'd projection
    * ([[UrlOps.withCanonical]]); the host report aggregates to
    * |hosts| rows; the over-threshold host set is tiny and
    * BROADCASTS into an anti-join keyed on the doc's host — one
    * projection + one broadcast anti-join on top of [[curate]]'s
    * single-shuffle-per-stage budget, never an extra corpus
    * shuffle. */
  def curateWithHostGate(docs: DataFrame, urls: DataFrame,
                         evalDocs: DataFrame,
                         maxHostDupE6: Long = 500000L,
                         minQualityE6: Long = 400000L,
                         keepLang: String = "en",
                         contamThresholdE6: Long = 100000L,
                         targetPerSource: Long = 15L,
                         seqLen: Int = 2048): DataFrame = {
    // spread the single-split url table before the per-row
    // canonicalization (the gateStage spread rationale)
    val canon = UrlOps.withCanonical(graft.Tables.spreadIfNarrow(urls))
    val badHosts = UrlOps.hostReport(canon)
      .filter(col("n_dup") * lit(1000000L) >= col("n_urls") * maxHostDupE6)
      .select(col("host"))
    val keptIds = docs.select(col("doc_id"))
      .join(canon.select(col("doc_id"), col("host")), Seq("doc_id"))
      .join(broadcast(badHosts), Seq("host"), "left_anti")
      .select(col("doc_id"))
    // host gate composed AFTER the doc-level gate stage (the
    // mediaGateFromGated commute: stages 1-3 are per-row filters, so
    // the doc-id semi-join moves across them with identical row sets)
    // — this lets the |hosts|-row report and the corpus tokenize pass
    // run as one dataflow without re-deriving the gate per caller,
    // and a caller can overlap them as concurrent job groups
    val gated = gateStage(docs, evalDocs, minQualityE6, keepLang)
      .join(keptIds, Seq("doc_id"), "left_semi")
    fromGated(gated, evalDocs, contamThresholdE6, targetPerSource, seqLen)
  }
}
