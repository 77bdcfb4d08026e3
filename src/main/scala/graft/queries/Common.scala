package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.AnnIndex

/** Helpers shared by several query families: the overlap-pattern job
  * submitter, driver-side result comparisons, the IVFQ stored-index memo
  * base, and the SQL fragments the oracle statements and their Spark
  * twins are written from. */
private[queries] object Common {

  /** Concurrent-pipeline submitter for the overlap pattern (guide
    * §2.6): the body is a BLOCKING Spark action (a collect, a count or
    * an eager materialization), so it runs wrapped in
    * `scala.concurrent.blocking` — the global fork-join pool then
    * grows a compensation thread instead of deadlocking if keys ever
    * nest or widen the fan-out (ADVICE r16). */
  def bgJob[T](body: => T): scala.concurrent.Future[T] =
    scala.concurrent.Future(scala.concurrent.blocking(body))(
      scala.concurrent.ExecutionContext.Implicits.global)

  /** Blocks for a [[bgJob]]'s result, rethrowing its failure. */
  def await[T](f: scala.concurrent.Future[T]): T =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)

  /** Multiset equality of two collected top-k result sets — the
    * driver-side form of `a.exceptAll(b).isEmpty &&
    * b.exceptAll(a).isEmpty` for contract-sized (|Q|·k ≤ a few
    * hundred rows) results. The DataFrame form costs two shuffle
    * jobs per parity check at bench granularity; both sides are
    * already driver-sized, so the exact same multiset semantics run
    * for free on the rows the keys collect anyway. */
  def sameResults(a: Array[org.apache.spark.sql.Row],
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
  def recallOf(ann: Array[org.apache.spark.sql.Row],
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

  /** Memo keys for the session-shared stored-index bases
    * (graft.IndexMemo): every build parameter that matters is encoded
    * in the key, so no parameter change can ever serve a stale base.
    * The two IVFQ lifecycle keys share one base (corpus minus the
    * pinned batch — the delete key appends the batch first, which is
    * row-identical to a full build under the same centroids); the two
    * BM25 lifecycle keys share the 2/3-corpus base the same way
    * (`RetrievalQueries.bm25BaseKey`). */
  def ivfqBaseKey(d: String) =
    s"ivfq_base|$d|minus(vec_id%20=13&lt2000)|nlist=16|seed=42|kmeansbb"

  /** Second-level memo bases: the FULL-corpus indexes (base + the
    * pinned batch appended under the frozen fit) that q_ann_delete,
    * q_retrieval_delete, and q_retrieval_hybrid_stored all need.
    * Appends are row-identical to a rebuild under the same fit, so
    * one appended clone serves every full-corpus consumer; each key
    * still clones privately before mutating. The build closures
    * derive the SAME slices the base keys encode. This is the IVFQ
    * one; `RetrievalQueries.bm25FullDir` is the BM25 one. */
  def ivfqFullDir(s: SparkSession, d: String): String =
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

  // DuckDB-dialect fragments of the oracle statements

  val toksSql = "string_split(text, ' ')"
  val stopSql =
    s"len(list_filter($toksSql, t -> t IN ('the','a','of','and','in')))"

  /** DuckDB word-3-shingle list for the Jaccard oracle. */
  val shinglesSql =
    "list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1), " +
      "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))"

  /** DuckDB twins of TextOps.qualityE6Col / langPredCol / normalize —
    * the float expression order matches the Spark side exactly. */
  val qualitySql =
    s"CAST(floor((least(len($toksSql)/100.0, 1.0)*0.3 " +
      s"+ (CAST($stopSql AS DOUBLE)/len($toksSql))*0.4 " +
      s"+ least((CAST(n_chars AS DOUBLE)/len($toksSql))/8.0, 1.0)*0.3)*1000000) AS BIGINT)"
  val langPredSql =
    s"CASE WHEN CAST($stopSql AS DOUBLE)/len($toksSql) >= 0.05 THEN 'en' ELSE 'unk' END"
  val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g'))"

  def cosSql(a: String, b: String): String =
    s"(list_aggregate(list_transform(range(1, len($a.embedding)+1), " +
      s"i -> CAST($a.embedding[i] AS DOUBLE)*CAST($b.embedding[i] AS DOUBLE)), 'sum') " +
      s"/ (sqrt(list_aggregate(list_transform($a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum')) " +
      s"* sqrt(list_aggregate(list_transform($b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))))"

  // Spark-dialect fragments of the twins

  val toks = "split(text, ' ')"
  val stop = s"size(filter($toks, t -> t IN ('the','a','of','and','in')))"
  // decimal-literal trap: in Spark SQL text `100.0` is a DECIMAL
  // literal (the DataFrame API's lit(100.0) is a double), and decimal
  // arithmetic flips floor(x*1e6) boundaries vs the DataFrame's
  // double math — the D suffix keeps the whole expression in doubles
  val quality =
    s"CAST(floor((least(size($toks)/100.0D, 1.0D)*0.3D " +
      s"+ (CAST($stop AS DOUBLE)/size($toks))*0.4D " +
      s"+ least((CAST(n_chars AS DOUBLE)/size($toks))/8.0D, 1.0D)*0.3D)*1000000) AS BIGINT)"
  val langPred =
    s"CASE WHEN CAST($stop AS DOUBLE)/size($toks) >= 0.05D THEN 'en' ELSE 'unk' END"
  val norm =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''), '  +', ' '))"

  /** Distinct word-3-shingle array (guarded: empty for < 3 tokens). */
  val shingles =
    s"CASE WHEN size($toks) >= 3 THEN array_distinct(transform(sequence(1, size($toks) - 2), " +
      s"i -> concat(element_at($toks, i), ' ', element_at($toks, i+1), ' ', element_at($toks, i+2)))) " +
      "ELSE CAST(array() AS ARRAY<STRING>) END"

  /** Cosine over float embeddings, mirroring VectorOps.cosineSim's
    * exact op order: sequential-fold dot and norms over
    * array<double>, null (ranks last) on zero norm. */
  def cosTwin(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"aggregate(zip_with(CAST($x.embedding AS ARRAY<DOUBLE>), " +
        s"CAST($y.embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), 0D, (s, v) -> s + v)"
    def nrm(x: String) = s"sqrt(${dot(x, x)})"
    s"CASE WHEN ${nrm(a)} * ${nrm(b)} > 0 THEN ${dot(a, b)} / (${nrm(a)} * ${nrm(b)}) END"
  }
}
