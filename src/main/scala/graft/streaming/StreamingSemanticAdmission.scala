package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.functions.{DotProductInt8, VectorOps}
import graft.operators.{Dedup, Similarity}

/** Streaming twin of [[graft.operators.Dedup.incrementalSemanticAdmission]]
  * — live-ingest admission against the STORED semantic-dedup index
  * ([[graft.operators.Dedup.buildSemanticIndex]]'s cid-partitioned
  * int8 vectors + two-level centroid sidecar): a stream of new
  * embeddings is admitted unless an indexed vector in its k-means
  * cell is closer than `threshold` cosine.
  *
  * Streaming-legal shape (append mode, no stream aggregation):
  *  1. a STATELESS per-row step quantizes each vector with the batch
  *     rule verbatim ([[Similarity.quantizeRow]] — one shared
  *     function, zero rounding drift) while carrying the float vector
  *     through for the exact verify;
  *  2. the cell id comes from the SAME codegen'd
  *     [[graft.functions.HierCellId]] expression the batch side and
  *     the index build use — a deterministic scalar projection, so
  *     batch and stream can never disagree on a cell;
  *  3. cid stream-static LEFT-joins the stored cid-partitioned
  *     vectors — candidates only, touched cells only (the same
  *     directory-level pruning the batch admission gets); the left
  *     join keeps empty-cell rows alive as novel;
  *  4. the int8 pre-filter (threshold − margin) and the exact
  *     float-cosine verify run columnar per candidate row with the
  *     batch side's expressions, after which the carried arrays are
  *     DROPPED — only (vec_id, index_id, verified) enters the fold;
  *  5. `flatMapGroupsWithState` keyed by vec_id folds candidate rows
  *     to one verdict (min verified index id, else novel). State is
  *     never read across batches, so the state store stays EMPTY —
  *     admission state lives in the persisted index, exactly like
  *     the text/embedding twins.
  *
  * Same deployment caveat as the other twins: admitted vectors fold
  * into the stored index periodically (append under the frozen
  * sidecar); within-stream pairs are not compared — the batch
  * operator's contract. */
object StreamingSemanticAdmission {

  final case class SemVerdict(vec_id: Long, status: String,
                              match_id: Option[Long], keep: Boolean)

  /** Internal fold row (public: encoder codegen needs member access). */
  final case class SemVote(vec_id: Long, index_id: Option[Long],
                           verified: Boolean)

  /** Streaming (or batch) semantic admission verdicts. `vecs` carries
    * (vec_id, embedding: array<float|double>); `dir` is a
    * [[graft.operators.Dedup.buildSemanticIndex]] index; `index` is
    * the static float corpus the index was built from (the exact
    * verify's lookup side, as in the batch operator). Output matches
    * `Dedup.incrementalSemanticAdmission`'s verdict columns. */
  def admission(vecs: DataFrame, index: DataFrame, dir: String,
                threshold: Double = 0.9,
                prefilterMargin: Double = 0.05): Dataset[SemVerdict] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val (coarse, fine) = Dedup.readSemanticCells(spark, dir)
    // static sides: the stored int8 cells and the float lookup table
    val stored = spark.read.parquet(s"$dir/vectors")
      .select(col("cid"), col("vec_id").as("index_id"),
        col("qv").as("sqv"))
      .withColumn("sqn",
        sqrt(DotProductInt8.dot(col("sqv"), col("sqv")).cast("double")))
    val iVec = index.select(col("vec_id").as("index_id"),
        VectorOps.asDoubleArray(col("embedding")).as("iv"))
      .withColumn("in_norm", VectorOps.l2Norm(col("iv")))
    // 1. stateless per-row quantization (batch rule verbatim), float
    // vector carried through; null guard as in the embedding twin
    val quantized = vecs
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions(_.map { case (id, v0) =>
        val v = if (v0 == null) Array.empty[Double] else v0
        val (_, qv) = Similarity.quantizeRow(v)
        (id, v.toSeq, qv.toSeq)
      })
      .toDF("vec_id", "fv", "qv")
    // 2. the batch side's cell expression, verbatim
    val assigned = quantized
      .withColumn("cid", graft.functions.HierCellId.of(
        VectorOps.asDoubleArray(col("qv")), coarse, fine))
      .withColumn("bqn",
        sqrt(DotProductInt8.dot(col("qv"), col("qv")).cast("double")))
      .withColumn("fn", VectorOps.l2Norm(col("fv")))
    // 3. + 4. candidates by cid equi-join; int8 pre-filter gates the
    // float lookup; exact cosine columnar; arrays dropped before the
    // fold (self-pairs excluded like the batch operator)
    val prefiltered = assigned
      .join(stored, Seq("cid"), "left")
      .select(col("vec_id"), col("fv"), col("fn"),
        when(col("index_id") =!= col("vec_id") &&
            col("bqn") * col("sqn") > 0 &&
            DotProductInt8.dot(col("qv"), col("sqv")).cast("double")
              / (col("bqn") * col("sqn")) > threshold - prefilterMargin,
          col("index_id")).as("index_id"))
    val votes = prefiltered
      .join(iVec, Seq("index_id"), "left")
      .select(col("vec_id"), col("index_id"),
        (col("index_id").isNotNull &&
          col("fn") * col("in_norm") > 0 &&
          VectorOps.dotArr(col("fv"), col("iv")) / (col("fn") * col("in_norm"))
            > threshold).as("verified"))
      .as[SemVote](Encoders.product[SemVote])
    // 5. per-vector fold to a single verdict
    Dedup.foldVerdicts(votes)(_.vec_id, v => v.index_id.filter(_ => v.verified))(
      SemVerdict.apply _)
  }
}
