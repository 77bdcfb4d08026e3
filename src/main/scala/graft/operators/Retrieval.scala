package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval over the `documents` table — the BM25
  * ranking primitive a RAG / eval-retrieval pipeline fronts its
  * corpus with (Robertson & Spärck Jones probabilistic relevance
  * framework; the Lucene `k1`/`b` parameterization).
  *
  * Scale shape at 100 TB:
  *  - the corpus is tokenized ONCE; `(doc, term)` tf partials are
  *    map-side combined before the single term-keyed shuffle — the
  *    inverted-index build;
  *  - the query-term table is tiny (`nQueryTerms` rows) and
  *    broadcast, so the postings join never shuffles the corpus a
  *    second time — only postings of the queried terms flow;
  *  - document length and the global `avgdl` scalar come from the
  *    same scan (map-side count + one 1-row broadcast crossJoin);
  *  - the final top-k is a `TakeOrdered` (per-partition heap + one
  *    k-row driver merge), never a global sort.
  *
  * Cross-engine determinism: the per-(doc, term) BM25 contribution
  * is floor-quantized to an e6 integer BEFORE the per-doc sum, so
  * aggregation is exact integer math (partition-order independent)
  * and the only float expressions (idf, length norm) are evaluated
  * in one fixed parenthesization shared verbatim with the oracle
  * SQL. Tie-break on the k boundary is total: (score desc, doc_id).
  */
object Retrieval {

  /** Per-term document frequency — the stats half of an inverted
    * index. One term-keyed shuffle of already-distinct map-side
    * partials. The SAME aggregation expression runs unchanged over a
    * streaming frame (see `streaming.StreamingIndexStats`): df is a
    * plain additive count because every document arrives exactly
    * once and contributes each distinct term once. */
  def dfCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(array_distinct(TextOps.regexTokens(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** Corpus-level (n_docs, sum_dl) — the scalar half of the index
    * stats; also streaming-compatible (one global additive agg). */
  def corpusStats(docs: DataFrame): DataFrame =
    docs.select(size(TextOps.regexTokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  // fixed float parenthesization — shared verbatim between the
  // inline and stored-index paths AND the oracle text. One accepted
  // cross-engine caveat, per the repo float rules: idf goes through
  // ln(), and a last-ulp difference between DuckDB's and Spark's ln
  // implementations could in principle flip the floor(x·1e6)
  // quantization of a per-(doc,term) contribution (the e6 floor
  // BEFORE the per-doc sum removes order dependence, not
  // transcendental drift; SqlParitySpec runs both texts in Spark so
  // it cannot catch it either). Both engines use correctly-rounded
  // or near-correctly-rounded libm ln and every compared value at
  // the gate SFs sits well off a quantization boundary, so the risk
  // is accepted and DOCUMENTED rather than padded away; if a future
  // fixture ever lands on a boundary, the remedy is the rows-only
  // fallback (drop the oracle hash for this key), not a guard band
  // that would change published scores.
  private def idfExpr: Column = log(lit(1.0)
    + (col("n_docs").cast("double") - col("df") + lit(0.5))
      / (col("df").cast("double") + lit(0.5)))

  private def normExpr(k1: Double, b: Double): Column = {
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    col("tf").cast("double") * (lit(k1) + 1.0) /
      (col("tf").cast("double")
        + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl").cast("double") / avgdl)))
  }

  /** BM25 top-k with the query-term set derived from the corpus
    * itself (top-`nQueryTerms` non-stopword terms by document
    * frequency; df desc, term asc) so the query is fixture-agnostic.
    *
    * This gate query recomputes the index stats inline to stay
    * self-contained (4 column-pruned scans of the text column); the
    * production path builds the stored index ONCE ([[buildIndex]],
    * or maintains its stats live — `streaming.StreamingIndexStats`)
    * and serves every query from it ([[bm25TopKFromIndex]]).
    *
    * Output: (doc_id, n_hit, bm25_e6) — the k best documents.
    */
  def bm25TopK(docs: DataFrame, nQueryTerms: Int = 3, k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qterms = dfCounts(docs)
      .filter(!col("term").isin("the", "a", "of", "and", "in"))
      .orderBy(col("df").desc, col("term")).limit(nQueryTerms)
    bm25Scores(docs, qterms, k1, b)
      .orderBy(col("bm25_e6").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-doc BM25 scores for an explicit query-term frame (`term`
    * [, `df`]) — the scoring core [[bm25TopK]] tops and
    * [[hybridTopK]]'s sparse side ranks. `qterms` is query-sized and
    * broadcast; df is recomputed from the corpus here so any caller's
    * term frame works. Output: (doc_id, n_hit, bm25_e6) for every doc
    * matching ≥1 term. */
  def bm25Scores(docs: DataFrame, qterms: DataFrame,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val dt = docs.select(col("doc_id"),
      explode(TextOps.regexTokens(col("text"))).as("term"))
    val df = dfCounts(docs)
    val q = df.join(broadcast(qterms.select("term")), Seq("term"))
    val dl = docs.select(col("doc_id"),
      size(TextOps.regexTokens(col("text"))).cast("long").as("dl"))
    val stats = corpusStats(docs)
    val tf = dt.join(broadcast(q), Seq("term"))
      .groupBy(col("doc_id"), col("term"), col("df"))
      .agg(count(lit(1)).as("tf"))
    tf.join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor(idfExpr * normExpr(k1, b) * lit(1e6)).cast("long").as("score_e6"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("score_e6")).as("bm25_e6"))
  }

  /** Reciprocal-rank fusion (Cormack et al. SIGIR'09) — the standard
    * hybrid-retrieval merge of a sparse (lexical) and a dense
    * (vector) ranking. Takes the two rank frames AS INPUT — (id,
    * rank) with rank 1-based — so the fusion is ranking-source
    * agnostic: the gate key feeds exact cosine ranks (oracle-able),
    * a deployment feeds ANN ranks (`HybridRetrievalSpec` proves the
    * IVF composition); either side may be a top-N cut.
    *
    * Scores are EXACT integers: rrf_e9 = ⌊1e9/(kRrf+r_sparse)⌋ +
    * ⌊1e9/(kRrf+r_dense)⌋, a missing side contributing 0 — integer
    * division keeps the fusion bit-stable across engines, and ranks
    * (not raw scores) make it scale-free, which is the point of RRF.
    * Both inputs are top-N-bounded, so the full-outer join is
    * query-sized — never corpus-sized. */
  def rrfFuse(sparse: DataFrame, dense: DataFrame, k: Int = 10,
              kRrf: Int = 60): DataFrame = {
    val s = sparse.select(col("doc_id"), col("rank").as("r_sparse"))
    val d = dense.select(col("doc_id"), col("rank").as("r_dense"))
    s.join(d, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(expr(s"1000000000 DIV ($kRrf + r_sparse)"), lit(0L))
          + coalesce(expr(s"1000000000 DIV ($kRrf + r_dense)"), lit(0L)))
          .cast("long").as("rrf_e9"),
        coalesce(col("r_sparse"), lit(0L)).as("r_sparse"),
        coalesce(col("r_dense"), lit(0L)).as("r_dense"))
      .orderBy(col("rrf_e9").desc, col("doc_id"))
      .limit(k)
  }

  /** `dir/postings`: one row per (term, doc), partitioned by
    * `term_bucket`, in-file sorted by term (see [[buildIndex]]). */
  private val Postings = StoredShards.Table("postings",
    "term STRING, doc_id BIGINT, dl BIGINT, tf BIGINT, df BIGINT, term_bucket INT",
    "term_bucket", "term", "doc_id")

  /** `dir/emptydocs`: the zero-token documents' membership (see
    * [[emptyDocs]]). */
  private val EmptyDocs = StoredShards.members("emptydocs", "doc_id")

  /** `dir/stats`: the 1-row (n_docs, sum_dl) scalar table. */
  private val Stats = "n_docs BIGINT, sum_dl BIGINT"

  private def readStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Stats).parquet(s"$dir/stats")

  private def writeStats(spark: SparkSession, dir: String, nDocs: Long,
                         sumDl: Long): Unit = {
    import spark.implicits._
    Seq((nDocs, sumDl)).toDF("n_docs", "sum_dl")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Adds (n_docs, sum_dl) deltas to the stats — a 1-row read on the
    * driver and an overwrite, never a read-and-overwrite of the same
    * path in one plan; an absent table counts as (0, 0). */
  private def bumpStats(spark: SparkSession, dir: String, nDocs: Long,
                        sumDl: Long): Unit = {
    val (oDocs, oSumDl) =
      if (!StoredShards.exists(spark, s"$dir/stats")) (0L, 0L)
      else { val r = readStats(spark, dir).head(); (r.getLong(0), r.getLong(1)) }
    writeStats(spark, dir, oDocs + nDocs, oSumDl + sumDl)
  }

  /** Materialized inverted-index build — the serving layout the
    * 100 TB deployment reads instead of re-deriving stats per query:
    *
    *  - `dir/postings`: one row per (term, doc) — (term, doc_id, dl,
    *    tf, df, term_bucket) — PARTITIONED BY `term_bucket =
    *    pmod(hash(term), nBuckets)` through
    *    [[graft.sources.CorpusSink.writeParquet]], in-file sorted by
    *    term, so a query prunes every non-queried bucket's files at
    *    the directory level and row-group min/max stats narrow the
    *    bucket's files to the queried terms. dl is DENORMALIZED onto
    *    the postings row (Lucene stores per-doc norms the same way),
    *    so serving needs zero corpus-sized side joins; df is stored
    *    too (query-term selection, diagnostics) but serving derives
    *    the exact value from the scan so appends can't stale it.
    *  - `dir/stats`: the 1-row (n_docs, sum_dl) scalar table.
    *  - `dir/emptydocs`: doc_ids of zero-token documents (usually
    *    absent — see [[emptyDocs]]; they have no postings but DO count
    *    in the stats, and [[deleteIndex]] needs their membership).
    *
    * The text column never enters the index, so no serving scan can
    * read it — `RetrievalLayoutSpec` proves both the file pruning
    * and the postings-only read schema. */
  def buildIndex(docs: DataFrame, dir: String, nBuckets: Int = 16,
                 filesPerShard: Int = 2): Unit = {
    val spark = docs.sparkSession
    Postings.write(postings(docs, nBuckets), dir, filesPerShard)
    val (nDocs, sumDl, nEmpty) = docStats(docs)
    writeStats(spark, dir, nDocs, sumDl)
    // the empties scan runs only when the stats pass saw a zero-token
    // doc (rare by construction); an index without the sidecar means
    // "no empty docs" to every consumer
    if (nEmpty > 0)
      StoredShards.writeMembers(EmptyDocs, emptyDocs(docs), dir, nBuckets, append = false)
    else StoredShards.delete(spark, EmptyDocs.path(dir))
  }

  /** One light pass over `docs` for the sidecar scalars: (n_docs,
    * sum_dl, n_empty). The projection is just the token-count — the
    * build path used to run THREE tokenize scans (postings, stats,
    * empties); this fold plus the conditional empties scan make it
    * two, with the third only when an empty doc actually exists. */
  private def docStats(docs: DataFrame): (Long, Long, Long) = {
    val r = docs
      .select(size(TextOps.regexTokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"),
        coalesce(sum(when(col("dl") === 0L, 1L).otherwise(0L)), lit(0L))
          .as("n_empty"))
      .head()
    (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl"),
      r.getAs[Long]("n_empty"))
  }

  /** The doc_ids of ZERO-TOKEN documents. They are counted in the
    * stats (n_docs, dl = 0 → they move avgdl, so they shift every
    * served score) but own no postings row — without the `emptydocs`
    * sidecar, [[deleteIndex]]'s membership probe could never see
    * them, leaving n_docs one high versus a rebuild on the survivors.
    * Almost always empty (rows only for genuinely token-free texts). */
  private def emptyDocs(docs: DataFrame): DataFrame =
    docs.filter(size(TextOps.regexTokens(col("text"))) === 0).select(col("doc_id"))

  /** An `emptydocs` sidecar written before it was bucketed holds its
    * files directly, and its rows read with a null `nbucket`: rewrite
    * it into one bucket before an append or a purge works on it by
    * buckets. Zero-token docs are rare, so the ids pass the driver. */
  private def bucketFlatEmptyDocs(spark: SparkSession, dir: String): Unit =
    if (StoredShards.flat(spark, EmptyDocs.path(dir))) {
      import spark.implicits._
      val ids = EmptyDocs.read(spark, dir).select(col("doc_id")).as[Long].collect()
      StoredShards.writeMembers(EmptyDocs, ids.toSeq.toDF("doc_id"), dir, nBuckets = 1,
        append = false)
    }

  /** The (term, doc_id, dl, tf, df, term_bucket) postings rows for one
    * document set — `df` is SEGMENT-LOCAL (the df among `docs` only).
    * For a one-shot [[buildIndex]] that equals global df; after an
    * [[appendIndex]] the stored column is advisory (query-term
    * selection, diagnostics) and serving derives the exact global df
    * from the scan itself — see [[bm25TopKFromIndex]]. */
  private def postings(docs: DataFrame, nBuckets: Int): DataFrame = {
    val dt = docs
      .withColumn("toks", TextOps.regexTokens(col("text")))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
    val tf = dt.groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfTab, Seq("term"))
      .withColumn("term_bucket", pmod(hash(col("term")), lit(nBuckets)))
  }

  /** `df` as the count of each term's rows in hand. A term's postings
    * live entirely inside one bucket (bucket = hash(term)), so over a
    * rewritten bucket the recount is bucket-local and restores the
    * stored column to the exact value; over a query's masked postings
    * it is the df the serving path scores with. */
  private def recountDf(rows: DataFrame): DataFrame =
    rows.drop("df").withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))

  /** INCREMENTAL MAINTENANCE of the stored index — the lexical
    * counterpart of `AnnIndex.appendIvfq`: ingest a new document
    * batch without touching the rest of the corpus.
    *
    *  - the batch's postings rows are APPENDED into exactly the term
    *    buckets the batch's terms hash to (`CorpusSink.appendShards`
    *    writes new files under those partition directories only);
    *    every untouched bucket's files survive byte-identical — at
    *    100 TB a daily batch re-lists nothing and rewrites nothing;
    *  - the 1-row stats table is additively merged (n_docs and
    *    sum_dl are plain sums, the same invariant
    *    `streaming.StreamingIndexStats` maintains live) — a 2-row
    *    driver-side fold, no corpus scan;
    *  - NOTHING is recomputed for existing documents: appended rows
    *    carry batch-local df, and the serving path derives the exact
    *    global df per queried term from the postings it already
    *    reads ([[bm25TopKFromIndex]]), so served scores after any
    *    append sequence are BIT-IDENTICAL to a full rebuild's
    *    (`RetrievalAppendSpec` proves it, plus the byte-survival of
    *    untouched buckets).
    *
    * Batch doc_ids must be disjoint from the stored corpus (same
    * contract as the ANN append; dedup/admission runs upstream).
    * Appending into an EMPTY `dir` bootstraps the index (the first
    * micro-batch of a streaming ingest needs no special-case build
    * call — see `streaming.StreamingIndexAppend`). */
  def appendIndex(newDocs: DataFrame, dir: String, nBuckets: Int = 16,
                  filesPerShard: Int = 2): Unit = {
    Postings.append(postings(newDocs, nBuckets), dir, filesPerShard)
    val (bDocs, bSumDl, bEmpty) = docStats(newDocs)
    bumpStats(newDocs.sparkSession, dir, bDocs, bSumDl)
    if (bEmpty > 0) {
      bucketFlatEmptyDocs(newDocs.sparkSession, dir)
      StoredShards.writeMembers(EmptyDocs, emptyDocs(newDocs), dir, nBuckets, append = true)
    }
  }

  /** TOMBSTONE DELETE for the stored index — the retrieval twin of
    * `AnnIndex.deleteVectors`: removing documents without rewriting a
    * single postings file. The batch is probed against the index's
    * membership — the (doc_id, dl) columns of the postings (any one
    * posting of a doc carries its length) plus the emptydocs sidecar
    * with dl = 0 — through [[StoredShards.tombstone]], which drops ids
    * absent from the index or already tombstoned, appends the fresh
    * ones as one small file under `dir/deletes` and returns their
    * (count, Σdl); the 1-row stats table is decremented by exactly
    * that, the additive inverse of [[appendIndex]]'s merge. Serving
    * then masks tombstoned postings BEFORE the df window
    * ([[bm25TopKFromIndex]]), so df, norms, and stats all reflect the
    * surviving corpus: served scores are BIT-IDENTICAL to a full
    * rebuild on corpus-minus-deleted. Idempotent, so a replayed
    * micro-batch cannot double-count — `StreamingIndexDelete.bm25Sink`
    * relies on this. [[purgeIndexDeletes]] later folds the tombstones
    * into a physical rewrite. */
  def deleteIndex(ids: DataFrame, dir: String): Unit = {
    val spark = ids.sparkSession
    val worded = Postings.read(spark, dir).select(col("doc_id"), col("dl"))
    val members =
      if (!StoredShards.exists(spark, EmptyDocs.path(dir))) worded
      else worded.unionByName(EmptyDocs.read(spark, dir)
        .select(col("doc_id"), lit(0L).as("dl")))
    val (n, sumDl) = StoredShards.tombstone(ids, dir, "doc_id", Some(members))
    if (n > 0) bumpStats(spark, dir, -n, -sumDl)
  }

  /** PHYSICAL PURGE of [[deleteIndex]] tombstones: a deleted doc's
    * postings are spread across every bucket its terms hash to, so
    * the purge rewrites exactly the buckets that still hold a
    * tombstoned row — dropping those rows and restoring the stored
    * `df` column bucket-locally ([[recountDf]]). The emptydocs sidecar
    * loses the deleted ids too, so a replayed delete finds no
    * membership anywhere and cannot re-decrement n_docs. Stats were
    * already adjusted at delete time and serving already masked these
    * rows, so served results cannot change. Returns the purged bucket
    * ids. */
  def purgeIndexDeletes(spark: SparkSession, dir: String,
                        filesPerShard: Int = 2): Seq[Int] = {
    bucketFlatEmptyDocs(spark, dir)
    StoredShards.purge(spark, dir, "doc_id", EmptyDocs)(dels =>
      StoredShards.purgeShards(Postings, dir, dels, filesPerShard, fixUp = recountDf))
  }

  /** COMPACTION — the maintenance valve for [[appendIndex]]'s file
    * growth (each append adds ≤`filesPerShard` files per touched
    * bucket, so a long ingest run accumulates small files). Rewrites
    * ONLY the buckets whose file count exceeds `maxFilesPerBucket`,
    * staged and swapped per directory, so every below-threshold
    * bucket's files survive byte-identical, and restores their stored
    * `df` column to the exact global value ([[recountDf]]). Serving is
    * unaffected either way (it always derives df from the scan), so a
    * compact can run any time without coordinating with readers of
    * consistent snapshots beyond parquet's usual file-listing caveat.
    *
    * Returns the compacted bucket ids (empty = nothing exceeded the
    * threshold). O(oversized buckets' rows) — never O(corpus). */
  def compactIndex(spark: SparkSession, dir: String,
                   filesPerShard: Int = 2,
                   maxFilesPerBucket: Int = 8): Seq[Int] =
    StoredShards.compact(spark, Postings, dir, filesPerShard, maxFilesPerBucket, recountDf)

  /** The partition predicate a query pushes at the stored postings:
    * every queried term's bucket id is a FOLDABLE expression
    * (`pmod(hash(lit(term)), nBuckets)`), so Catalyst constant-folds
    * it to a literal and the comparison against the partition column
    * prunes directories STATICALLY — no job runs to discover which
    * buckets to read. */
  def termBucketPredicate(queryTerms: Seq[String], nBuckets: Int): Column =
    queryTerms.map(t =>
      col("term_bucket") === pmod(hash(lit(t)), lit(nBuckets))).reduce(_ || _)

  /** BM25 top-k served from the stored index ([[buildIndex]]): the
    * scan touches only the queried terms' buckets (static partition
    * pruning via [[termBucketPredicate]] + an `In(term, …)` pushed
    * filter inside them), every per-(doc,term) input rides on the
    * postings row, the 1-row stats table is broadcast, and the top-k
    * is a TakeOrdered — per-query work is O(queried postings), with
    * the corpus text never readable from this path at all. Scores
    * are bit-identical to [[bm25TopK]] on the same terms (same
    * shared score expressions, same e6 floor-before-sum).
    *
    * df is derived FROM THE SCAN, not read from the stored column:
    * the query already reads every posting of its terms, and the
    * exact global df of a term is precisely its posting-row count —
    * a window count over rows already in hand (the window shuffle
    * moves only the queried postings, never the corpus). That makes
    * the serving path append-tolerant by construction: stored df is
    * segment-local after an [[appendIndex]], and trusting it would
    * serve stale idf; deriving it keeps served scores equal to a
    * full rebuild's after ANY append sequence — and the read schema
    * narrows by the df column as a bonus. */
  def bm25TopKFromIndex(spark: SparkSession, dir: String,
                        queryTerms: Seq[String], k: Int = 10,
                        k1: Double = 1.2, b: Double = 0.75,
                        nBuckets: Int = 16): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val post = recountDf(StoredShards.mask(
      Postings.read(spark, dir)
        .filter(termBucketPredicate(queryTerms, nBuckets)
          && col("term").isin(queryTerms: _*)),
      dir, "doc_id"))
    post.crossJoin(broadcast(readStats(spark, dir)))
      .select(col("doc_id"),
        floor(idfExpr * normExpr(k1, b) * lit(1e6)).cast("long").as("score_e6"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("score_e6")).as("bm25_e6"))
      .orderBy(col("bm25_e6").desc, col("doc_id"))
      .limit(k)
  }
}
