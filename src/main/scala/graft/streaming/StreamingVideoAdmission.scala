package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, ImageDedup, VideoDedup}

/** Streaming twin of [[graft.operators.VideoDedup.incrementalVideoAdmission]]:
  * live video ingest admitted against the STORED stream index
  * ([[graft.operators.VideoDedup.buildVideoIndex]]) with verdicts
  * IDENTICAL to the batch operator for any micro-batch arrival
  * pattern — the [[StreamingAudioAdmission]] design with a temporal
  * axis.
  *
  * Shape: a stateless per-row container decode that emits the WHOLE
  * stream's features at once (flat frame/sum arrays + per-sampled-
  * frame bucket keys — [[VideoDedup.streamRow]], so no per-frame
  * aggregation is ever needed on the stream side), the frame bucket
  * entries exploded per row, a stream-STATIC left equi-join into the
  * stored bucket shards and the rep-stream lookup, a typed
  * per-candidate exact CONTAINMENT vote (the 216-cell frame math in
  * a JIT'd `mapPartitions` — the HOF-trap discipline), and a
  * per-clip `flatMapGroupsWithState` fold to ONE
  * verdict. Duplicate (clip, rep) candidate rows (several shared
  * buckets) fold to the same min-rep verdict, so the batch
  * operator's pair-dedup is unnecessary here — and the fold keeps NO
  * state across clips or batches: state rows stay zero.
  */
object StreamingVideoAdmission {

  final case class ClipVerdict(doc_id: Long, status: String,
                               match_id: Option[Long], keep: Boolean)

  /** Internal vote row (public: encoder codegen needs member access). */
  final case class ClipVote(doc_id: Long, rep: Option[Long],
                            verified: Boolean)

  /** Streaming (or batch) video admission verdicts. `media` carries
    * (doc_id, media: binary); `dir` is a
    * [[graft.operators.VideoDedup.buildVideoIndex]] index. Output
    * matches `VideoDedup.incrementalVideoAdmission`'s verdict
    * columns; undecodable containers stay `novel`. */
  def admission(media: DataFrame, dir: String,
                maxMeanDiffE2: Long = 600L,
                minContainPct: Int = 70): Dataset[ClipVerdict] = {
    val spark = media.sparkSession
    import spark.implicits._
    val stored = spark.read.parquet(s"$dir/buckets")
      .withColumnRenamed("doc_id", "rep")
    val repStreams = spark.read.parquet(s"$dir/streams")
      .select(col("doc_id").as("rep"), col("fr").as("fa"))
    // 1. stateless per-row decode → whole-stream features
    val decoded = media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        VideoDedup.streamRow(
            if (bytes == null) Array.emptyByteArray else bytes) match {
          case Some((fr, sm, keys)) => (id, fr, sm, keys, true)
          case None => (id, Array.empty[Int], Array.empty[Long],
            Seq.empty[(Long, Long, Long)], false)
        }
      })
      .toDF("doc_id", "fb", "sb", "keys", "ok")
    // 2. frame bucket entries (posexplode_outer twice keeps an
    //    undecodable clip alive on exactly one null-keyed row)
    val e0 = decoded.select(col("doc_id"), col("fb"),
      posexplode_outer(col("keys")).as(Seq("fi", "key")))
    val e1 = e0
      .withColumn("bands", when(col("key").isNotNull,
        ImageDedup.bands(col("key").getField("_1"))))
      .select(col("doc_id"), col("fb"),
        col("key").getField("_2").as("ckA"),
        col("key").getField("_3").as("ckB"),
        posexplode_outer(col("bands")).as(Seq("band", "bv")))
    val entries = e1.select(col("doc_id"), col("fb"),
        (col("band") * 2).as("bk"), col("bv"), col("ckA").as("ck"))
      .unionByName(e1.filter(col("band").isNotNull)
        .select(col("doc_id"), col("fb"),
          (col("band") * 2 + 1).as("bk"), col("bv"), col("ckB").as("ck")))
      .withColumn("shard",
        pmod(hash(col("bk"), col("bv"), col("ck")),
          lit(VideoDedup.BucketShards)).cast("int"))
    // 3. candidates by bucket equi-join; rep streams by id — both
    //    static lookups; left joins keep candidate-less clips alive
    val withRep = entries
      .join(stored, Seq("shard", "bk", "bv", "ck"), "left")
      .join(repStreams, Seq("rep"), "left")
    // 4. typed exact containment per candidate row
    val votes = withRep.select(col("doc_id"), col("rep"),
        col("fb"), col("fa"))
      .as[(Long, Option[Long], Seq[Int], Option[Seq[Int]])]
      .mapPartitions(_.map { case (id, rep, fb, fa) =>
        val verified = rep.isDefined && fa.isDefined &&
          VideoDedup.isContained(fa.get.toArray, fb.toArray,
            maxMeanDiffE2, minContainPct)
        ClipVote(id, rep, verified)
      })
    // 5. per-clip fold to a single verdict
    Dedup.foldVerdicts(votes)(_.doc_id, v => v.rep.filter(_ => v.verified))(
      ClipVerdict.apply _)
  }
}
