package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer (Kudo, ACL'18 — the SentencePiece
  * `unigram` model): the standard ALTERNATIVE to BPE merge induction
  * ([[Tokenizer]]), trained by EM over piece probabilities instead of
  * greedy pair merging. Production pipelines ship both; this engine
  * now does too.
  *
  * Algorithm (the published one, with one documented simplification):
  *  1. SEED a large candidate vocabulary: the most frequent
  *     substrings (length ≤ [[MaxPieceLen]]) of the corpus words,
  *     frequency-weighted, plus ALL single characters (so every word
  *     stays coverable — the no-UNK guarantee);
  *  2. EM: the E-step computes EXPECTED piece counts with the
  *     forward-backward lattice over each word (soft counts — every
  *     feasible segmentation contributes, weighted by its posterior),
  *     the M-step renormalizes piece log-probs from the counts;
  *  3. PRUNE between EM phases: drop the lowest-expected-count
  *     multi-character pieces (never single characters), shrinking
  *     the vocabulary by ×0.75 per phase until it fits `vocabSize`.
  *     (SentencePiece ranks by loss-if-removed; expected count is the
  *     standard cheap proxy and keeps the phase a pure driver-side
  *     sort of the already-collected count sidecar.)
  *  4. ENCODE is the Viterbi best segmentation under the final
  *     log-probs (longest-piece deterministic tie-break).
  *
  * Scale design (the [[Tokenizer]] rule): the corpus is scanned ONCE
  * into the distinct-word frequency table; every EM iteration is one
  * `mapPartitions` lattice pass over that VOCAB-sized table with
  * map-side piece-count partials, one piece-keyed aggregation, and a
  * driver collect bounded by `seedSize` (a few thousand rows — the
  * centroid-sidecar argument). Piece scores travel as a broadcast
  * map (≤ a few hundred KB). Nothing in the loop is corpus-sized;
  * at 100 TB the one wordFreq scan dominates and the EM phases cost
  * the same as they do at sf0.01.
  */
object Unigram {

  /** Max candidate piece length — SentencePiece's default ballpark;
    * bounds the lattice at O(len·MaxPieceLen) per word. */
  val MaxPieceLen = 6

  /** One trained piece: (piece, logProb, expected count). */
  final case class Piece(piece: String, logProb: Double, count: Double)

  /** Trained model + the per-phase loss trajectory (total corpus
    * −log-likelihood under the marginal over segmentations — the
    * quantity EM provably does not increase within a fixed
    * vocabulary; recorded unnormalized, as accumulated). */
  final case class UnigramModel(pieces: Seq[Piece],
                                lossTrail: Seq[Double]) {
    def scores: Map[String, Double] =
      pieces.map(p => p.piece -> p.logProb).toMap
  }

  /** Viterbi best segmentation of `word` under log-prob `scores` —
    * None when uncoverable (cannot happen when all single chars are
    * in the vocabulary; kept total for junk-free encode semantics).
    * Ties break toward the LONGER piece at each boundary
    * (deterministic — the ascending start-index scan keeps the first
    * winner, which is the longest candidate). */
  def viterbi(word: String,
              scores: collection.Map[String, Double]): Option[List[String]] = {
    val n = word.length
    if (n == 0) return Some(Nil)
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1)
    java.util.Arrays.fill(back, -1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - MaxPieceLen)
      while (j < i) {
        if (best(j) > Double.NegativeInfinity) {
          scores.get(word.substring(j, i)) match {
            case Some(s) =>
              val cand = best(j) + s
              if (cand > best(i)) { best(i) = cand; back(i) = j }
            case None =>
          }
        }
        j += 1
      }
      i += 1
    }
    if (back(n) < 0) None
    else {
      var pieces = List.empty[String]
      var k = n
      while (k > 0) { pieces = word.substring(back(k), k) :: pieces; k = back(k) }
      Some(pieces)
    }
  }

  private def logSumExp(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else if (a > b) a + math.log1p(math.exp(b - a))
    else b + math.log1p(math.exp(a - b))

  /** Forward-backward expected piece counts for one word: posterior
    * count of the piece spanning (j, i) is
    * exp(α(j) + s(piece) + β(i) − logZ). Accumulates `freq`-weighted
    * counts into `acc` and returns freq·(−logZ), the word's loss
    * contribution (+∞-guarded: an uncoverable word contributes
    * nothing — the caller's coverage flag owns that case). */
  private def accumulateExpected(word: String, freq: Long,
                                 scores: collection.Map[String, Double],
                                 acc: scala.collection.mutable.HashMap[String, Double])
      : Double = {
    val n = word.length
    if (n == 0) return 0.0
    val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
    val beta = Array.fill(n + 1)(Double.NegativeInfinity)
    alpha(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - MaxPieceLen)
      while (j < i) {
        if (alpha(j) > Double.NegativeInfinity) {
          scores.get(word.substring(j, i)) match {
            case Some(s) => alpha(i) = logSumExp(alpha(i), alpha(j) + s)
            case None =>
          }
        }
        j += 1
      }
      i += 1
    }
    val logZ = alpha(n)
    if (logZ == Double.NegativeInfinity) return 0.0
    beta(n) = 0.0
    i = n - 1
    while (i >= 0) {
      var k = i + 1
      val kMax = math.min(n, i + MaxPieceLen)
      while (k <= kMax) {
        if (beta(k) > Double.NegativeInfinity) {
          scores.get(word.substring(i, k)) match {
            case Some(s) => beta(i) = logSumExp(beta(i), s + beta(k))
            case None =>
          }
        }
        k += 1
      }
      i -= 1
    }
    var j = 0
    while (j < n) {
      if (alpha(j) > Double.NegativeInfinity) {
        var k = j + 1
        val kMax = math.min(n, j + MaxPieceLen)
        while (k <= kMax) {
          if (beta(k) > Double.NegativeInfinity) {
            scores.get(word.substring(j, k)) match {
              case Some(s) =>
                val post = math.exp(alpha(j) + s + beta(k) - logZ)
                if (post > 0.0) {
                  val p = word.substring(j, k)
                  acc.update(p, acc.getOrElse(p, 0.0) + post * freq)
                }
              case None =>
            }
          }
          k += 1
        }
      }
      j += 1
    }
    -logZ * freq
  }

  /** Seed candidate pieces over the (word, n) frequency table: all
    * substrings of length ≤ [[MaxPieceLen]] weighted by word
    * frequency, top `seedSize` by (weight desc, piece asc), UNIONed
    * with every single character (chars are never dropped — the
    * coverage floor). One distributed substring explode + piece-keyed
    * aggregation; the returned seq is the driver-bounded sidecar the
    * EM loop broadcasts. */
  private[graft] def seedPieces(wf: DataFrame, seedSize: Int): Seq[(String, Long)] = {
    val spark = wf.sparkSession
    import spark.implicits._
    val subCounts = wf.select(col("word"), col("n")).as[(String, Long)]
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { case (w, n) =>
          var j = 0
          while (j < w.length) {
            var k = j + 1
            val kMax = math.min(w.length, j + MaxPieceLen)
            while (k <= kMax) {
              val p = w.substring(j, k)
              acc.update(p, acc.getOrElse(p, 0L) + n)
              k += 1
            }
            j += 1
          }
        }
        acc.iterator
      }.toDF("piece", "w")
      .groupBy(col("piece")).agg(sum(col("w")).as("w"))
    val chars = subCounts.filter(length(col("piece")) === 1)
    val multi = subCounts.filter(length(col("piece")) > 1)
      .orderBy(col("w").desc, col("piece")).limit(seedSize)
    chars.unionByName(multi)
      .orderBy(col("w").desc, col("piece"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** One E-step over the word table: expected piece counts + total
    * loss under `scores`. Partition-local HashMap partials (map-side
    * combine in user space — one row per DISTINCT piece per
    * partition, not per occurrence), one piece-keyed aggregation,
    * driver collect bounded by |vocab|. */
  private def expectedCounts(wf: DataFrame, scores: Map[String, Double])
      : (Map[String, Double], Double) = {
    val spark = wf.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val bScores = sc.broadcast(scores)
    val rows = wf.select(col("word"), col("n")).as[(String, Long)]
      .mapPartitions { it =>
        val s = bScores.value
        val acc = scala.collection.mutable.HashMap.empty[String, Double]
        var loss = 0.0
        it.foreach { case (w, n) => loss += accumulateExpected(w, n, s, acc) }
        acc.iterator.map { case (p, c) => (p, c, 0.0) } ++
          Iterator.single(("", 0.0, loss))
      }.toDF("piece", "c", "loss")
      .groupBy(col("piece"))
      .agg(sum(col("c")).as("c"), sum(col("loss")).as("loss"))
      .collect()
    val counts = rows.iterator.filter(_.getString(0).nonEmpty)
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val loss = rows.iterator.map(_.getDouble(2)).sum
    (counts, loss)
  }

  /** Renormalized log-probs from expected counts. Single characters
    * get a count floor (they must stay segmentable even when every
    * posterior routed around them); multi-char pieces keep their raw
    * expectation — a zero-count piece scores −∞-equivalent and the
    * next prune removes it. */
  private def mStep(vocab: Seq[String], counts: Map[String, Double])
      : Map[String, Double] = {
    // the single-char floor scales with the corpus mass (total·1e-12)
    // so it stays far below any real expected count: an absolute floor
    // could perturb the exact M-step enough to trip the within-phase
    // loss-monotonicity gate's 1e-6 relative tolerance on corpora
    // where chars earn near-zero posterior mass
    val mass = counts.valuesIterator.sum
    val charFloor = math.max(mass * 1e-12, java.lang.Double.MIN_NORMAL)
    val floored = vocab.map { p =>
      val c = counts.getOrElse(p, 0.0)
      p -> (if (p.length == 1) math.max(c, charFloor)
            else math.max(c, java.lang.Double.MIN_NORMAL))
    }
    val total = floored.iterator.map(_._2).sum
    floored.map { case (p, c) => p -> math.log(c / total) }.toMap
  }

  /** Train a unigram LM of at most `vocabSize` pieces over `docs`.
    * `emIters` EM iterations run per prune phase (SentencePiece's 2);
    * phases shrink the multi-char set ×0.75 until it fits. Returns
    * the model with per-iteration losses (monotone non-increasing
    * within each fixed-vocabulary phase — `UnigramSpec` pins it). */
  def learnUnigram(docs: DataFrame, vocabSize: Int = 512,
                   seedSize: Int = 4096, emIters: Int = 2): UnigramModel = {
    val wf = Tokenizer.wordFreq(docs).select(col("word"), col("n"))
    graft.Materialize.withCached(wf) {
      val seed = seedPieces(wf, seedSize)
      val charPieces = seed.iterator.filter(_._1.length == 1).map(_._1).toVector
      var multi = seed.iterator.filter(_._1.length > 1).map(_._1).toVector
      // seed scores from raw substring weights
      val seedTotal = seed.iterator.map(_._2).sum.toDouble
      var scores: Map[String, Double] =
        seed.map { case (p, w) => p -> math.log(w / seedTotal) }.toMap
      var counts: Map[String, Double] = Map.empty
      val lossTrail = Vector.newBuilder[Double]
      var done = false
      while (!done) {
        var it = 0
        while (it < emIters) {
          val (c, loss) = expectedCounts(wf, scores)
          counts = c
          lossTrail += loss
          scores = mStep(charPieces ++ multi, counts)
          it += 1
        }
        val maxMulti = math.max(0, vocabSize - charPieces.length)
        if (multi.length <= maxMulti) done = true
        else {
          // prune: keep the top 3/4 of the multi-char set by expected
          // count (count desc, piece asc), floored at the target —
          // a pure driver-side sort of the sidecar. Strictly shrinks
          // every phase ((3n)/4 < n and maxMulti < n here), so the
          // loop terminates in O(log) phases.
          val keep = math.max(maxMulti, multi.length * 3 / 4)
          multi = multi.sortBy(p => (-counts.getOrElse(p, 0.0), p)).take(keep)
          // renormalize over the surviving vocabulary
          scores = mStep(charPieces ++ multi, counts)
        }
      }
      val finalVocab = charPieces ++ multi
      UnigramModel(
        finalVocab.sorted.map(p =>
          Piece(p, scores(p), counts.getOrElse(p, 0.0))),
        lossTrail.result())
    }
  }

  private val modelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, UnigramModel]()

  /** Session-memoized [[learnUnigram]] — the `IndexMemo` rule for
    * models: training is a pure function of (fixture, config), and
    * the train + encode keys both need the same model, so it's paid
    * once per session. `key` must pin the corpus vintage (the sf
    * dir). */
  def learnUnigramMemo(docs: DataFrame, key: String, vocabSize: Int = 512,
                       seedSize: Int = 4096, emIters: Int = 2): UnigramModel =
    modelMemo.computeIfAbsent(s"$key|$vocabSize|$seedSize|$emIters",
      _ => learnUnigram(docs, vocabSize, seedSize, emIters))

  /** ENCODE `docs` with a trained model — the apply half, shaped like
    * [[Tokenizer.bpeEncode]]: Viterbi runs once per DISTINCT word
    * (vocab-sized typed pass under the broadcast score map), words
    * buy their piece-id strings via one word-keyed join, one
    * doc-keyed shuffle reassembles documents. Piece ids are the
    * 1-based lexicographic rank over the model vocabulary (the
    * [[Tokenizer.bpeEncode]] symtab rule — deterministic and
    * engine-portable). Returns (doc_id, n_words, n_pieces,
    * token_ids, roundtrip_ok): `roundtrip_ok` = every word's pieces
    * concatenate back to the word (the lattice guarantees it; the
    * column makes the guarantee checkable row by row). */
  def unigramEncode(docs: DataFrame, model: UnigramModel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val scores = model.scores
    val ids = model.pieces.map(_.piece).sorted.zipWithIndex
      .map { case (p, i) => p -> (i + 1) }.toMap
    val bScores = spark.sparkContext.broadcast(scores)
    val bIds = spark.sparkContext.broadcast(ids)
    val wf = Tokenizer.wordFreq(docs).select(col("word")).as[String]
    // vocab-sized: one row per distinct word; truncate lineage before reuse
    val wordPieces = graft.Materialize.barrier(wf.mapPartitions { it =>
        val s = bScores.value
        val idm = bIds.value
        it.map { w =>
          viterbi(w, s) match {
            case Some(ps) =>
              (w, ps.map(idm(_).toString).mkString(" "), ps.length.toLong,
                ps.mkString("") == w)
            case None => (w, "", 0L, false)
          }
        }
      }.toDF("word", "wids", "wn", "rt"))
    docs.select(col("doc_id"),
        posexplode_outer(TextOps.regexTokens(col("text")))
          .as(Seq("wpos", "word")))
      .join(wordPieces, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(col("word")).as("n_words"),
        coalesce(sum(col("wn")), lit(0L)).as("n_pieces"),
        array_join(transform(
          array_sort(collect_list(struct(col("wpos"), col("wids")))),
          s => s.getField("wids")), " ").as("token_ids"),
        coalesce(min(col("rt")), lit(true)).as("roundtrip_ok"))
  }
}
