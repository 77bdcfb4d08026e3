package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines over the
  * `documents` table (FIXTURES.md §A): tokenization, quality
  * scoring, language-ID heuristic, token counting, fingerprinting.
  * All pure `functions._` column expressions — whole-stage codegen,
  * no UDFs, embarrassingly parallel (no shuffle at 100 TB: these are
  * per-row maps over a parquet scan with column pruning).
  */
object TextOps {

  /** Whitespace tokens (single-space split, DuckDB-`string_split`
    * compatible: keeps empty tokens). */
  def tokens(text: Column): Column = split(text, " ")

  /** Alphanumeric regex tokens — the "BPE-ish" lexer class. */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-z0-9]+"), lit(0))

  private val StopWords = Seq("the", "a", "of", "and", "in")

  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => t.isin(StopWords: _*)))

  /** Per-document stats: token count, chars/token, stopword ratio.
    * Ratios are emitted as tie-free floor(x*1e6) integers: the raw
    * doubles are bitwise identical across engines, but decimal
    * `round()` tie rules differ (Spark HALF_UP on shortest repr vs
    * DuckDB nearbyint on the scaled binary) — measured as a 1-ulp
    * FAIL on exact-decimal ties at sf0.01. */
  def textStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"), col("n_chars"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      floor(col("n_chars").cast("double") / size(tokens(col("text"))) * 1e6)
        .cast("long").as("chars_per_token_e6"),
      floor(stopwordCount(tokens(col("text"))).cast("double")
        / size(tokens(col("text"))) * 1e6).cast("long").as("stopword_ratio_e6"))

  /** Token counting: regex tokens + a bytes/4 BPE-count estimate. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexTokens(col("text"))).cast("long").as("n_word_tokens"),
      ceil(col("n_chars").cast("double") / 4.0).cast("long").as("n_bpe_est"))

  /** Stopword density of the whitespace tokens of `text`. */
  private def stopRatioCol: Column = {
    val toks = tokens(col("text"))
    stopwordCount(toks).cast("double") / size(toks)
  }

  /** Stopword-density language gate: dense enough → `en`. */
  private def langPredCol: Column =
    when(stopRatioCol >= 0.05, lit("en")).otherwise(lit("unk"))

  /** Composite quality heuristic in [0,1] scaled to an e6 integer:
    * length, stopword, token-shape components. The float expression
    * order is part of the cross-engine contract — keep it identical
    * to the DuckDB oracle text. */
  private[graft] def qualityE6Col: Column = {
    val nTok = size(tokens(col("text"))).cast("double")
    val avgTokLen = col("n_chars").cast("double") / nTok
    floor((least(nTok / 100.0, lit(1.0)) * 0.3
      + stopRatioCol * 0.4
      + least(avgTokLen / 8.0, lit(1.0)) * 0.3) * 1e6).cast("long")
  }

  /** N-gram-heuristic language ID: stopword density → `en`, else by
    * doc length parity of heuristic classes. Deterministic, oracle-
    * expressible; a real model would plug into the same column shape. */
  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang").as("lang_true"),
      langPredCol.as("lang_pred"),
      floor(stopRatioCol * 1e6).cast("long").as("en_score_e6"))

  /** Composite quality score in [0,1]: length, stopword, token-shape
    * components (the usual pre-training heuristic filter family). */
  def qualityScore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), qualityE6Col.as("quality_e6"))

  /** Canonical text normalization for dedup keys and model input:
    * lowercase → strip everything but [a-z0-9 ] → collapse runs of
    * spaces → trim. Kept to POSIX character classes so the same
    * regexes mean the same thing in Java regex and RE2-family
    * engines (portable normalization is what makes cross-system
    * dedup keys comparable). Pure codegen'd string expressions —
    * per-row map, no shuffle, scales with the scan. */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), "  +", " "))

  /** doc_id + normalized text + its length (the normalized-key view
    * a dedup pipeline fingerprints). */
  def normalized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), normalize(col("text")).as("norm_text"))
      .withColumn("n_norm_chars", length(col("norm_text")).cast("long"))

  /** Document fingerprints: full-text md5 + 64-bit prefix — identical
    * hex in Spark and DuckDB, so exact-dedup keys are portable. */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(col("text")).as("fp_md5"),
      substring(md5(col("text")), 1, 16).as("fp64"))

  // --- repetition quality signals --------------------------------------

  /** Gopher-style repetition signals per document — the "drop
    * boilerplate and degenerate text" quality gates: the fraction of
    * characters covered by the single most frequent word-bigram, and
    * the fraction of bigram occurrences that are repeats. High values
    * of either mark templated or looping text a pretraining run
    * filters out.
    *
    * Mechanics: posexplode + lead window builds the bigrams (a
    * `transform(sequence(...))` over
    * `split` would be a CodegenFallback that re-splits the text per
    * element, O(tokens²) per doc; measured 4× slower at sf0.1), then
    * (doc, gram) counts with map-side partial agg → per-doc window
    * picks the top gram (ties break by gram text, so the report is
    * deterministic) → one aggregate per doc. Fractions are
    * floor-divided ×1e6 integers, never a float round-trip, so the
    * report is bit-identical across engines.
    *
    * Scale shape: one scan; ONE doc_id hash exchange serves the
    * bigram window, the gram counts, the top-gram window, and the
    * final per-doc aggregate (doc_id partitioning satisfies all
    * four) — never all-pairs. Docs with fewer than 2 tokens have no
    * bigrams and are absent from the report.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val wPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val counts = docs
      .select(col("doc_id"), col("n_chars"),
        posexplode(tokens(col("text"))).as(Seq("pos", "w0")))
      .withColumn("w1", lead(col("w0"), 1).over(wPos))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), col("n_chars"),
        concat_ws(" ", col("w0"), col("w1")).as("gm"))
      .groupBy(col("doc_id"), col("n_chars"), col("gm"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("cnt").desc, col("gm"))
    counts.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"), col("n_chars"))
      .agg(sum(col("cnt")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(when(col("rn") === 1, col("gm"))).as("top_gram"),
        max(when(col("rn") === 1, col("cnt"))).as("top_cnt"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        col("top_gram"), col("top_cnt"),
        expr("top_cnt * length(top_gram) * 1000000 div n_chars").as("top_frac_e6"),
        expr("(n_grams - n_distinct) * 1000000 div n_grams").as("dup_frac_e6"))
  }

  // --- PII redaction ---------------------------------------------------

  /** Character-class-only patterns (no alternation, no backrefs) so
    * backtracking (Java) and leftmost-longest (RE2/DuckDB) engines
    * find the identical spans — greedy quantifiers over character
    * classes are engine-agnostic. */
  private[operators] val EmailRe = "[a-z0-9._]+@[a-z0-9.]+"
  private[operators] val PhoneRe = "[0-9]{3}-[0-9]{4,6}"

  /** PII scrub for training corpora: emails → `<EMAIL>`, then
    * phone-shaped digit groups → `<NUM>`. Email pass runs first so a
    * digit run inside an address is redacted as part of the address.
    * Pure codegen'd regexp_replace — per-row map on the scan. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), PhoneRe, "<NUM>")

  /** Redacted text + per-class match counts (the audit columns a
    * scrub job reports). `textCol` lets callers plant or derive the
    * text (e.g. concat of fields) without materializing it first. */
  def piiRedacted(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(col("doc_id"),
      redactPii(textCol).as("red_text"),
      size(regexp_extract_all(textCol, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(textCol, lit(PhoneRe), lit(0))).cast("long").as("n_phones"))

  // --- TF-IDF-style term ranking ---------------------------------------

  /** Per-document top-k informative terms — the tf-idf shape kept in
    * INTEGER arithmetic so ranks are bit-portable across engines:
    * score = tf · (N ÷ df) (floor division; rare terms get a large
    * idf factor, ubiquitous terms get 1). explode → (doc, term) tf
    * with map-side partial agg → vocab-sized df agg, broadcast back —
    * the corpus shuffles once as (doc, term) partials; df is
    * vocab-sized (sublinear in corpus size), so the join is a
    * broadcast, never a shuffle of the corpus. Ties break by higher
    * tf then term text, so top-k is deterministic. */
  def topTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(regexTokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tf").desc, col("term"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(nDocs))
      .filter(!col("term").isin(StopWords: _*))
      .withColumn("score", expr("tf * (n_docs div df)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("score"))
  }

  // --- composed corpus selection ---------------------------------------

  /** End-to-end corpus selection — the composed filter pipeline every
    * pretraining run fronts its data with: heuristic quality gate +
    * language gate, then exact dedup on the NORMALIZED text (min
    * doc_id per md5(normalize) key wins), then per-source doc and
    * token-estimate totals (the mixture report that feeds sampling
    * weights). One scan computes all per-row signals; the only
    * shuffles move (norm_key) for the dedup window and (source) for
    * the final groups — both already-reduced keys, never raw text
    * twice. */
  /** Tokenize-once gate expressions over pre-computed (n_tok, n_stop,
    * n_chars) count columns — the float expression order is the
    * cross-engine contract (identical to qualityE6Col/langPredCol
    * bitwise), shared by [[corpusSelect]] and [[Curation.curate]]. */
  private[operators] def qualityE6FromCounts: Column = {
    val nTok = col("n_tok").cast("double")
    val stopRatio = col("n_stop").cast("double") / col("n_tok")
    val avgTokLen = col("n_chars").cast("double") / nTok
    floor((least(nTok / 100.0, lit(1.0)) * 0.3
      + stopRatio * 0.4
      + least(avgTokLen / 8.0, lit(1.0)) * 0.3) * 1e6).cast("long")
  }

  private[operators] def langPredFromCounts: Column =
    when(col("n_stop").cast("double") / col("n_tok") >= 0.05, lit("en"))
      .otherwise(lit("unk"))

  /** Quality + language gate over one tokenize pass: rows surviving
    * both gates, with the normalized dedup key attached. `keep` lists
    * the columns carried through (the caller decides whether raw
    * text rides along — corpusSelect drops it before its shuffle). */
  private[operators] def gatedDocs(docs: DataFrame, minQualityE6: Long,
                                   keepLang: String, keep: Seq[String]): DataFrame =
    docs
      .select((keep.map(col) ++ Seq(
        size(tokens(col("text"))).as("n_tok"),
        stopwordCount(tokens(col("text"))).as("n_stop"),
        md5(normalize(col("text"))).as("norm_key"))): _*)
      .withColumn("quality_e6", qualityE6FromCounts)
      .withColumn("lang_pred", langPredFromCounts)
      .filter(col("quality_e6") >= minQualityE6 && col("lang_pred") === keepLang)
      .select((keep.map(col) :+ col("norm_key")): _*)

  def corpusSelect(docs: DataFrame, minQualityE6: Long = 400000L,
                   keepLang: String = "en"): DataFrame = {
    // Tokenize ONCE into counts, then derive both gates from the
    // counts (same float arithmetic as qualityE6Col/langPredCol
    // bitwise); raw text is dropped before the dedup shuffle, so
    // only (norm_key) and (source) keys ever cross an exchange.
    val kept = gatedDocs(docs, minQualityE6, keepLang,
      keep = Seq("doc_id", "source", "n_chars"))
    val w = Window.partitionBy(col("norm_key")).orderBy(col("doc_id"))
    kept.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(ceil(col("n_chars").cast("double") / 4.0).cast("long"))
          .cast("long").as("n_tokens_est"))
  }

  /** Term co-occurrence with integer LIFT scores over the top-`vocab`
    * most-frequent informative terms: lift(a,b) = P(a,b)/(P(a)·P(b))
    * = n_ab·n_docs/(df_a·df_b), reported ×1e6 as pure integer
    * arithmetic — the association signal PMI takes the log of,
    * WITHOUT the cross-engine libm-ulp hazard a float log carries.
    * Emits the `topPairs` strongest pairs (lift desc, then (a, b) —
    * a deterministic total order).
    *
    * Scale shape: the vocab cap bounds the self-join fan-out at
    * C(vocab, 2) pairs per doc worst-case; vocab and n_docs
    * broadcast, so the corpus shuffles once on doc_id for the pair
    * join and once as (a, b) aggregate partials. The lift product
    * n_ab·n_docs·1e6 is exact in 64-bit up to ~3e6-doc analysis
    * frames — co-occurrence at 100 TB runs per shard/source (as any
    * corpus-level statistic must), not over one global frame.
    */
  def cooccurLift(docs: DataFrame, vocab: Int = 50,
                  topPairs: Int = 100): DataFrame = {
    val dt = docs.select(col("doc_id"),
        explode(array_distinct(regexTokens(col("text")))).as("term"))
      .filter(!col("term").isin(StopWords: _*))
    val df = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val top = df.orderBy(col("df").desc, col("term")).limit(vocab)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val vt = dt.join(broadcast(top), Seq("term"))
    val pairs = vt.select(col("doc_id"), col("term").as("a"), col("df").as("df_a"))
      .join(vt.select(col("doc_id"), col("term").as("b"), col("df").as("df_b")),
        Seq("doc_id"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("df_a"), col("df_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs.crossJoin(broadcast(nDocs))
      .select(col("a"), col("b"), col("df_a"), col("df_b"), col("n_ab"),
        expr("n_ab * n_docs * 1000000 div (df_a * df_b)").as("lift_e6"))
      .orderBy(col("lift_e6").desc, col("a"), col("b"))
      .limit(topPairs)
  }
}
