package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.{Dedup, Similarity}

/** Streaming twin of [[graft.operators.Dedup.incrementalEmbeddingAdmission]]
  * — live-ingest admission in VECTOR space: a stream of new embeddings
  * is classified against the static curated corpus through its
  * hyperplane-LSH bucket index, with the exact cosine computed only on
  * LSH candidates.
  *
  * Streaming-legal shape (append mode, no stream aggregation):
  *  1. a STATELESS per-row step computes each vector's bucket key in
  *     every LSH table ([[bucketsOf]] — bit-identical to the batch
  *     `Similarity.lshCandidates` bucket expressions, see below);
  *  2. (tbl, bucket) keys stream-static LEFT-join the stored bucket
  *     index ([[bucketIndex]]) — candidates only, never O(corpus);
  *     the left join keeps bucket-less matches alive as novel;
  *  3. candidates stream-static join the per-candidate stored vectors
  *     and the exact cosine is computed columnar per row (the same
  *     codegen'd dot/norm expressions as the batch side), after which
  *     the carried arrays are DROPPED — only (vec_id, index_id,
  *     verified) enters the stateful fold;
  *  4. the shared [[graft.operators.Dedup.foldVerdicts]] folds a
  *     vector's candidate rows to one verdict: min verified index id,
  *     else novel. State is never read across batches (each vector
  *     arrives once), so the state store stays EMPTY — admission state
  *     lives in the persisted bucket index, as in text admission.
  *
  * Verdict parity with the batch operator is EXACT: [[bucketsOf]]
  * replays `Similarity.lshBucket`'s sign computation per row — same
  * float→double element casts, same sequential dot fold order, same
  * `>= 0` sign rule over the same seeded hyperplanes — so candidate
  * sets match bit-for-bit, and the verify reuses the batch side's
  * columnar cosine (`StreamingEmbeddingAdmissionSpec` asserts
  * identical verdicts per micro-batch arrival pattern).
  *
  * Same deployment caveat as text admission: admitted vectors fold
  * into the stored index periodically; within-stream pairs are not
  * compared — the batch operator's contract. */
object StreamingEmbeddingAdmission {

  final case class EmbedVerdict(vec_id: Long, status: String,
                                match_id: Option[Long], keep: Boolean)

  /** Internal fold row (public: encoder codegen needs member access). */
  final case class EmbedVote(vec_id: Long, index_id: Option[Long],
                             verified: Boolean)

  /** Per-row LSH table buckets, bit-identical to the batch
    * `Similarity.lshBucket` columnar expression: bit i of table t's
    * bucket is set when the sequential-fold dot of the (float→double
    * cast) vector with hyperplane t·bits+i is ≥ 0. */
  def bucketsOf(v: Array[Float], planes: Array[Array[Double]],
                bits: Int, numTables: Int): Array[Long] =
    Array.tabulate(numTables) { t =>
      var bucket = 0L
      var i = 0
      while (i < bits) {
        val p = planes(t * bits + i)
        var s = 0.0
        var j = 0
        val n = math.min(v.length, p.length)
        while (j < n) { s += v(j).toDouble * p(j); j += 1 }
        if (s >= 0) bucket |= (1L << i)
        i += 1
      }
      bucket
    }

  /** Static (tbl, bucket, index_id) table of the curated corpus —
    * exactly what `Similarity.lshCandidates` computes for its corpus
    * side. A real deployment PERSISTS this next to the vectors. */
  def bucketIndex(index: DataFrame, planes: Array[Array[Double]],
                  bits: Int, numTables: Int): DataFrame = {
    def tableBuckets(vecCol: org.apache.spark.sql.Column) =
      array((0 until numTables).map(t =>
        Similarity.lshBucket(vecCol, planes.slice(t * bits, (t + 1) * bits))): _*)
    index.select(col("vec_id").as("index_id"),
      posexplode(tableBuckets(VectorOps.asDoubleArray(col("embedding"))))
        .as(Seq("tbl", "bucket")))
  }

  /** Static per-candidate stored vectors for the exact verify. */
  def indexVectors(index: DataFrame): DataFrame =
    index.select(col("vec_id").as("index_id"),
        VectorOps.asDoubleArray(col("embedding")).as("iv"))
      .withColumn("in_norm", VectorOps.l2Norm(col("iv")))

  /** Streaming (or batch) embedding admission verdicts. `vecs`
    * carries (vec_id, embedding: array<float>); `index` is the static
    * curated corpus with the same columns. Output matches
    * `Dedup.incrementalEmbeddingAdmission`'s verdict columns. */
  def admission(vecs: DataFrame, index: DataFrame,
                threshold: Double = 0.9, bits: Int = 8,
                numTables: Int = 8, seed: Long = 42L,
                dim: Int = 0): Dataset[EmbedVerdict] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val d = if (dim > 0) dim
      else index.select(size(col("embedding"))).head().getInt(0)
    val planes = Similarity.hyperplanes(d, bits * numTables, seed)
    val bIdx = bucketIndex(index, planes, bits, numTables)
    val iVec = indexVectors(index)
    // 1. stateless per-row bucket computation (carries the vector
    // itself through for the candidate verify)
    val banded = vecs.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v0) =>
        // null guard (quantizedCorpus's rule): a poison-pill null
        // embedding must fall through as 'novel' (zero norm fails the
        // verify predicate), not NPE the task and kill the live query
        val v = if (v0 == null) Array.empty[Float] else v0
        (id, v, bucketsOf(v, planes, bits, numTables))
      })
      .toDF("vec_id", "qv_f", "buckets")
      .select(col("vec_id"),
        VectorOps.asDoubleArray(col("qv_f")).as("qv"),
        posexplode_outer(col("buckets")).as(Seq("tbl", "bucket")))
      .withColumn("qn", VectorOps.l2Norm(col("qv")))
    // 2. + 3. candidates by bucket equi-join, exact cosine columnar,
    // arrays dropped before the fold (self-pairs excluded like the
    // batch candidate generator)
    val votes = banded
      .join(bIdx, Seq("tbl", "bucket"), "left")
      .join(iVec, Seq("index_id"), "left")
      .select(col("vec_id"),
        when(col("index_id") =!= col("vec_id"), col("index_id")).as("index_id"),
        (col("index_id").isNotNull && col("index_id") =!= col("vec_id") &&
          col("qn") * col("in_norm") > 0 &&
          VectorOps.dotArr(col("qv"), col("iv")) / (col("qn") * col("in_norm"))
            > threshold).as("verified"))
      .as[EmbedVote](Encoders.product[EmbedVote])
    // 4. per-vector fold to a single verdict
    Dedup.foldVerdicts(votes)(_.vec_id, v => v.index_id.filter(_ => v.verified))(
      EmbedVerdict.apply _)
  }
}
