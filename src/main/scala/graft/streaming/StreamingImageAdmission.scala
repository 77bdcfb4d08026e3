package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, ImageDedup}

/** Streaming twin of [[graft.operators.ImageDedup.incrementalImageAdmission]]:
  * live image ingest admitted against the STORED bucket index
  * ([[graft.operators.ImageDedup.buildImageIndex]]) with verdicts
  * IDENTICAL to the batch operator for any micro-batch arrival
  * pattern.
  *
  * Shape (the [[StreamingSemanticAdmission]] design one modality
  * over): a stateless per-row decode → thumbnail/dHash/color-key
  * projection (the batch kernel verbatim), the 8 band/color bucket
  * entries per image, a stream-STATIC left equi-join into the stored
  * bucket shards and the rep-thumbnail lookup, the codegen'd
  * channel-sum pre-filter gating a typed exact-distance pass (the
  * HOF-trap discipline — the 216-element loop runs in a JIT'd
  * `mapPartitions`, never an interpreted lambda inside a join
  * condition), and a per-image `flatMapGroupsWithState` fold to ONE
  * verdict. The fold keeps NO state across images or batches — state
  * rows stay zero, so a 1000-executor deployment holds nothing in
  * memory between micro-batches.
  *
  * Same deployment caveat as the other twins: admitted images fold
  * into the stored index periodically (rebuild or append under the
  * catalog); within-stream pairs are not compared — the batch
  * operator's contract.
  */
object StreamingImageAdmission {

  final case class ImgVerdict(doc_id: Long, status: String,
                              match_id: Option[Long], keep: Boolean)

  /** Internal fold row (public: encoder codegen needs member access). */
  final case class ImgVote(doc_id: Long, rep: Option[Long],
                           verified: Boolean)

  /** Streaming (or batch) image admission verdicts. `media` carries
    * (doc_id, media: binary); `dir` is a
    * [[graft.operators.ImageDedup.buildImageIndex]] index. Output
    * matches `ImageDedup.incrementalImageAdmission`'s verdict
    * columns; undecodable media stays `novel` (nothing verified
    * against it), exactly like the batch operator. */
  def admission(media: DataFrame, dir: String,
                maxMeanDiffE2: Long = 600L): Dataset[ImgVerdict] = {
    val spark = media.sparkSession
    import spark.implicits._
    // static sides: the sharded bucket index and the rep thumbnails
    val stored = spark.read.parquet(s"$dir/buckets")
      .withColumnRenamed("doc_id", "rep")
    val repThumbs = spark.read.parquet(s"$dir/thumbs")
      .select(col("doc_id").as("rep"), col("thumb").as("ta"),
        col("sr").as("sra"), col("sg").as("sga"), col("sb").as("sba"))
    // 1. stateless per-row decode (batch kernel verbatim);
    //    undecodable rows ride through with ok=false → novel at the
    //    fold
    val decoded = media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        ImageDedup.thumbRow(id,
            if (bytes == null) Array.emptyByteArray else bytes) match {
          case Some((_, t, dh, ckA, ckB, sr, sg, sb)) =>
            (id, t, dh, ckA, ckB, sr, sg, sb, true)
          case None =>
            (id, Seq.empty[Int], 0L, 0L, 0L, 0L, 0L, 0L, false)
        }
      })
      .toDF("doc_id", "tb", "dhash", "ckA", "ckB", "srb", "sgb", "sbb", "ok")
    // 2. the 8 bucket entries per decodable image (the batch side's
    //    bucketEntries rule, with posexplode_outer so an undecodable
    //    image keeps exactly one null-keyed row through to the fold)
    val e0 = decoded
      .withColumn("bands",
        when(col("ok"), ImageDedup.bands(col("dhash"))))
      .select(col("doc_id"), col("tb"), col("srb"), col("sgb"), col("sbb"),
        col("ckA"), col("ckB"),
        posexplode_outer(col("bands")).as(Seq("band", "bv")))
    val entries = e0.select(col("doc_id"), col("tb"), col("srb"),
        col("sgb"), col("sbb"),
        (col("band") * 2).as("bk"), col("bv"), col("ckA").as("ck"))
      .unionByName(e0.filter(col("band").isNotNull)
        .select(col("doc_id"), col("tb"), col("srb"), col("sgb"), col("sbb"),
          (col("band") * 2 + 1).as("bk"), col("bv"), col("ckB").as("ck")))
      .withColumn("shard",
        pmod(hash(col("bk"), col("bv"), col("ck")),
          lit(ImageDedup.BucketShards)).cast("int"))
    // 3. candidates by bucket equi-join; rep thumbnails by id — both
    //    static lookups; left joins keep candidate-less images alive
    val withRep = entries
      .join(stored, Seq("shard", "bk", "bv", "ck"), "left")
      .join(repThumbs, Seq("rep"), "left")
    // 4. codegen'd channel-sum pre-filter + typed exact distance
    val msd = ImageDedup.maxSumDiff(maxMeanDiffE2)
    val votes = withRep.select(col("doc_id"), col("rep"),
        col("tb"), col("ta"),
        coalesce(col("rep").isNotNull &&
          abs(col("sra") - col("srb")) <= msd &&
          abs(col("sga") - col("sgb")) <= msd &&
          abs(col("sba") - col("sbb")) <= msd, lit(false)).as("pre"))
      .as[(Long, Option[Long], Seq[Int], Option[Seq[Int]], Boolean)]
      .mapPartitions(_.map { case (id, rep, tb, ta, pre) =>
        val verified = pre && ta.isDefined && {
          val a = ta.get
          var s = 0L
          var i = 0
          val n = math.min(a.length, tb.length)
          while (i < n) { s += math.abs(a(i) - tb(i)).toLong; i += 1 }
          s * 100L / (ImageDedup.ThumbW * ImageDedup.ThumbH * 3) <= maxMeanDiffE2
        }
        ImgVote(id, rep, verified)
      })
    // 5. per-image fold to a single verdict
    Dedup.foldVerdicts(votes)(_.doc_id, v => v.rep.filter(_ => v.verified))(
      ImgVerdict.apply _)
  }
}
