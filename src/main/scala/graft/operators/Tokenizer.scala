package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge induction (Sennrich et al. ACL'16) — the
  * tokenizer-training step of an LLM data pipeline.
  *
  * Scale design: BPE learning never iterates over the corpus. The
  * corpus is scanned ONCE into the word-frequency table (map-side
  * combined term partials, one term-keyed shuffle), and every merge
  * round after that operates on the VOCABULARY table — sub-linear in
  * corpus size, exactly how production BPE trainers (e.g. the
  * original subword-nmt, SentencePiece's BPE mode) scale. At 100 TB
  * the vocab table is a few million rows; `rounds` driver-loop jobs
  * over it are trivial next to the single corpus scan.
  *
  * Merge semantics match the reference BPE algorithm: a word is a
  * delimiter-wrapped symbol string (see [[wordFreq]]); one round
  * counts adjacent symbol pairs weighted by word frequency
  * (a per-row zip of the symbol array with its tail), picks the argmax
  * pair under the total order (count desc, pair asc), and rewrites
  * every non-overlapping left-to-right occurrence (`replace` — the
  * same greedy semantics as Python's `re.sub` with boundary
  * assertions in the reference implementation). The argmax
  * is a bounded 1-row driver probe per round, the same pattern as
  * the SGD driver loop's per-iteration weight fetch.
  */
object Tokenizer {

  /** Word-frequency table with each word exploded into its initial
    * single-character symbol string ("abc" → "<a><b><c>"). Every
    * symbol is WRAPPED in angle-bracket delimiters (characters that
    * cannot occur inside a `[a-z0-9]+` symbol): a plain space
    * separator lets substring `replace` match ACROSS symbol
    * boundaries ("an a" has a false hit inside "b an an a"), while
    * with per-symbol wrapping a match of "<pa><pb>" can only align
    * on two complete adjacent symbols — so one non-overlapping
    * left-to-right `replace` is EXACTLY the reference algorithm's
    * greedy merge. The original `word` is kept as the stable row
    * key: merged symbol strings can collide with other words'. */
  def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(TextOps.regexTokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .select(col("word"),
        regexp_replace(col("word"), "(.)", "<$1>").as("sym"), col("n"))

  /** Adjacent-symbol pair counts over a (word, sym, n) vocab table.
    * Pairing is per-row array arithmetic (zip of the symbol array
    * with its own tail) — NOT a lead() window, which would shuffle
    * and sort the exploded symbols every merge round; here the only
    * exchange is the map-side-combined (a, b) partial aggregate. */
  def pairCounts(wf: DataFrame): DataFrame = {
    val tk = regexp_extract_all(col("sym"), lit("[^<>]+"), lit(0))
    wf.select(col("n"),
        explode(arrays_zip(slice(tk, lit(1), size(tk) - 1),
          slice(tk, lit(2), size(tk) - 1))).as("p"))
      .select(col("p").getField("0").as("a"),
        col("p").getField("1").as("b"), col("n"))
      .groupBy(col("a"), col("b")).agg(sum(col("n")).as("cnt"))
  }

  /** The induction loop shared by [[bpeLearn]] and [[bpeEncode]],
    * BATCHED (the standard trick for scaling BPE training past toy
    * merge counts — one Spark job round can commit many merges): each
    * round collects a bounded window of top pairs (a driver probe
    * over the VOCAB pair table, never corpus data), selects a prefix
    * that is provably order-equivalent to sequential greedy, applies
    * the whole prefix as one chained `replace` projection, and
    * periodically puts the vocab behind a barrier so the layered
    * projection lineage stays bounded at thousands of merges.
    *
    * WHY the batch reproduces sequential greedy EXACTLY (the property
    * `BpeBatchSpec` pins on fixtures):
    *  - selection walks the (cnt desc, a asc, b asc) order and stops
    *    at the first pair sharing a symbol with any selected pair
    *    (the PREFIX rule), so selected pairs are mutually
    *    non-conflicting — applying one cannot change another's count
    *    (a merge of (a,b) only decrements pairs touching a or b);
    *  - every pair CREATED by a batch merge contains the new merged
    *    symbol and its count is bounded by a pre-merge neighbor pair
    *    count (each (prev, ab) occurrence was a (prev, a) adjacency)
    *    — and every such neighbor pair CONFLICTS with the selected
    *    set, so its count is at most `stopCnt` (the first
    *    conflicting/unselected row's count — the max over them in
    *    the sorted walk, or the window tail when the table was
    *    truncated);
    *  - the batch is truncated until every kept pair's count is
    *    STRICTLY above `stopCnt`, so no created pair can outrank (or
    *    tie) any kept pair — sequential greedy therefore picks
    *    exactly the kept pairs, in exactly this order, before ever
    *    seeing a created pair win a round.
    * A batch that truncates to a single pair is literally the
    * sequential step, so the loop can never do worse than one merge
    * per job round. */
  private[graft] def learnMerges(base: DataFrame, rounds: Int,
                                     maxBatch: Int = 32,
                                     checkpointEvery: Int = 64)
      : Seq[(Int, String, String, Long)] = {
    var wf = base
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var done = 0
    var sinceCheckpoint = 0
    var exhausted = false
    while (done < rounds && !exhausted) {
      val cap = math.min(maxBatch, rounds - done)
      val window = math.max(4, 4 * cap)
      val top = pairCounts(wf)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(window).collect()
      if (top.isEmpty) exhausted = true
      else {
        // stopCnt starts at the window tail when the table may extend
        // past what we collected — unseen pairs all rank at or below it
        var stopCnt = if (top.length == window) top(top.length - 1).getLong(2)
          else -1L
        val used = scala.collection.mutable.Set.empty[String]
        val sel = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        var i = 0
        var stopped = false
        while (i < top.length && !stopped) {
          val (a, b, cnt) =
            (top(i).getString(0), top(i).getString(1), top(i).getLong(2))
          if (sel.length >= cap || used.contains(a) || used.contains(b)) {
            // first unselected row = max count over everything not in
            // the batch (sorted walk), the created-pair bound
            stopCnt = math.max(stopCnt, cnt)
            stopped = true
          } else {
            sel += ((a, b, cnt)); used += a; used += b
          }
          i += 1
        }
        // strict-dominance truncation (never below 1 — a single merge
        // is the sequential step itself, safe by construction)
        while (sel.length > 1 && sel.last._3 <= stopCnt)
          sel.remove(sel.length - 1)
        sel.zipWithIndex.foreach { case ((a, b, cnt), j) =>
          merges += ((done + j + 1, a, b, cnt))
        }
        val symNext = sel.foldLeft(col("sym")) { case (c, (a, b, _)) =>
          replace(c, lit(s"<$a><$b>"), lit(s"<$a$b>"))
        }
        wf = wf.select(col("word"), symNext.as("sym"), col("n"))
        done += sel.length
        sinceCheckpoint += sel.length
        // bounded lineage: past the checkpoint budget the layered
        // replace projections are folded into a materialized
        // vocab-sized LogicalRDD (eager, one small job) — without
        // this a 1k-merge run re-analyzes a 1k-deep expression tree
        // per round and eventually overflows codegen
        if (sinceCheckpoint >= checkpointEvery && done < rounds) {
          wf = graft.Materialize.barrier(wf) // vocab-sized: one row per word
          sinceCheckpoint = 0
        }
      }
    }
    merges.result()
  }

  /** Learn `rounds` merges; returns one row per round:
    * (round, pair_a, pair_b, cnt). */
  def bpeLearn(docs: DataFrame, rounds: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val base = wordFreq(docs)
    val merges = graft.Materialize.withCached(base)(learnMerges(base, rounds))
    import spark.implicits._
    merges.toDF("round", "pair_a", "pair_b", "cnt")
  }

  /** ENCODE with the learned merges — the apply half of the Sennrich
    * ACL'16 pair (train-without-apply is half a tokenizer): learn
    * `rounds` merges, replay them over the VOCABULARY in learned
    * order (the same delimiter-wrapped greedy `replace` the
    * induction used, so encode(word) is exactly the symbol string
    * the final learning round saw), assign each distinct final
    * symbol a deterministic id (lexicographic rank — the vocabulary
    * is a few thousand symbols, so the one-partition ranking window
    * is bounded by construction, like the centroid sidecar), and
    * emit per document the ordered trained-tokenizer ids.
    *
    * Returns (doc_id, n_tokens, token_ids) where `token_ids` is the
    * space-joined id sequence in document order — a string, not an
    * array, so the row is hashable by any engine's canonical
    * compare.
    *
    * Scale shape: merge replay and id assignment are VOCAB-sized
    * (never touch the corpus); the corpus is scanned once into
    * per-word positions, each word buys its id string via a
    * broadcast join against the vocab, and one doc-keyed shuffle
    * reassembles documents. Documents with no `[a-z0-9]` token
    * encode to zero tokens and are kept (empty id string). */
  def bpeEncode(docs: DataFrame, rounds: Int = 5): DataFrame = {
    val base = wordFreq(docs)
    graft.Materialize.withCached(base) {
      val merges = learnMerges(base, rounds)
      // replay the merges over the vocab as one chained projection
      val symFinal = merges.foldLeft(col("sym")) { case (c, (_, a, b, _)) =>
        replace(c, lit(s"<$a><$b>"), lit(s"<$a$b>"))
      }
      val vocab = base.select(col("word"),
        regexp_extract_all(symFinal, lit("[^<>]+"), lit(0)).as("syms"))
      // deterministic token ids: 1-based lexicographic rank over the
      // distinct final symbols (vocab-sized single-partition window —
      // bounded like every sidecar; NOT corpus data)
      val symtab = vocab.select(explode(col("syms")).as("symbol")).distinct()
        .withColumn("tid",
          row_number().over(Window.orderBy(col("symbol"))).cast("int"))
      // word → (ordered id string, token count): vocab-sized. The
      // barrier materializes it before `base` is released below, or
      // every action on the lazy result would recompute the corpus
      // word-frequency scan the cache amortized for the training.
      val wordIds = graft.Materialize.barrier(vocab
        .select(col("word"), posexplode(col("syms")).as(Seq("spos", "symbol")))
        .join(broadcast(symtab), Seq("symbol"))
        .groupBy(col("word"))
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("spos"), col("tid")))),
            s => s.getField("tid").cast("string")), " ").as("wids"),
          count(lit(1)).cast("long").as("wn")))
      // corpus pass: one explode, one word-keyed join (the optimizer
      // broadcasts the word table while it fits and hash-joins past
      // that — corpus vocabulary grows with the corpus, unlike the
      // symbol table, so forcing a broadcast would be a 100 TB trap),
      // one doc-keyed shuffle; word order via the exploded position
      docs.select(col("doc_id"),
          posexplode_outer(TextOps.regexTokens(col("text")))
            .as(Seq("wpos", "word")))
        .join(wordIds, Seq("word"), "left")
        .groupBy(col("doc_id"))
        .agg(
          coalesce(sum(col("wn")), lit(0L)).as("n_tokens"),
          array_join(transform(
            array_sort(collect_list(struct(col("wpos"), col("wids")))),
            s => s.getField("wids")), " ").as("token_ids"))
    }
  }
}
