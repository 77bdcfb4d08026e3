package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.operators.{AudioDedup, Dedup}

/** Streaming twin of [[graft.operators.AudioDedup.incrementalAudioAdmission]]:
  * live audio ingest admitted against the STORED bucket index
  * ([[graft.operators.AudioDedup.buildAudioIndex]]) with verdicts
  * IDENTICAL to the batch operator for any micro-batch arrival
  * pattern — the [[StreamingImageAdmission]] design one modality
  * over.
  *
  * Shape: a stateless per-row decode → envelope/sign-delta/level-key
  * projection (the batch kernel verbatim), the 8 band/level bucket
  * entries per clip, a stream-STATIC left equi-join into the stored
  * bucket shards and the rep-print lookup, the codegen'd
  * envelope-sum pre-filter gating a typed exact-distance pass (the
  * HOF-trap discipline — the 65-element loop runs in a JIT'd
  * `mapPartitions`, never an interpreted lambda inside a join
  * condition), and a per-clip `flatMapGroupsWithState` fold to ONE
  * verdict. The fold keeps NO state across clips or batches — state
  * rows stay zero, so a 1000-executor deployment holds nothing in
  * memory between micro-batches.
  *
  * Same deployment caveat as the other twins: admitted clips fold
  * into the stored index periodically (rebuild or append under the
  * catalog); within-stream pairs are not compared — the batch
  * operator's contract.
  */
object StreamingAudioAdmission {

  final case class ClipVerdict(doc_id: Long, status: String,
                               match_id: Option[Long], keep: Boolean)

  /** Internal fold row (public: encoder codegen needs member access). */
  final case class ClipVote(doc_id: Long, rep: Option[Long],
                            verified: Boolean)

  /** Streaming (or batch) audio admission verdicts. `media` carries
    * (doc_id, media: binary); `dir` is a
    * [[graft.operators.AudioDedup.buildAudioIndex]] index. Output
    * matches `AudioDedup.incrementalAudioAdmission`'s verdict
    * columns; undecodable media stays `novel` (nothing verified
    * against it), exactly like the batch operator. */
  def admission(media: DataFrame, dir: String,
                maxMeanDiffE2: Long = AudioDedup.DefaultMaxMeanDiffE2)
      : Dataset[ClipVerdict] = {
    val spark = media.sparkSession
    import spark.implicits._
    // static sides: the sharded bucket index and the rep prints
    val stored = spark.read.parquet(s"$dir/buckets")
      .withColumnRenamed("doc_id", "rep")
    val repPrints = spark.read.parquet(s"$dir/prints")
      .select(col("doc_id").as("rep"), col("env").as("ea"),
        col("es").as("esa"))
    // 1. stateless per-row decode (batch kernel verbatim);
    //    undecodable rows ride through with ok=false → novel at the
    //    fold
    val decoded = media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        AudioDedup.printRow(id,
            if (bytes == null) Array.emptyByteArray else bytes) match {
          case Some((_, env, abits, ekA, ekB, es)) =>
            (id, env, abits, ekA, ekB, es, true)
          case None =>
            (id, Seq.empty[Int], 0L, 0L, 0L, 0L, false)
        }
      })
      .toDF("doc_id", "eb", "abits", "ekA", "ekB", "esb", "ok")
    // 2. the 8 bucket entries per decodable clip (the batch side's
    //    bucketEntries rule, with posexplode_outer so an undecodable
    //    clip keeps exactly one null-keyed row through to the fold)
    val e0 = decoded
      .withColumn("bands",
        when(col("ok"), AudioDedup.bands(col("abits"))))
      .select(col("doc_id"), col("eb"), col("esb"),
        col("ekA"), col("ekB"),
        posexplode_outer(col("bands")).as(Seq("band", "bv")))
    val entries = e0.select(col("doc_id"), col("eb"), col("esb"),
        (col("band") * 2).as("bk"), col("bv"), col("ekA").as("ek"))
      .unionByName(e0.filter(col("band").isNotNull)
        .select(col("doc_id"), col("eb"), col("esb"),
          (col("band") * 2 + 1).as("bk"), col("bv"), col("ekB").as("ek")))
      .withColumn("shard",
        pmod(hash(col("bk"), col("bv"), col("ek")),
          lit(AudioDedup.BucketShards)).cast("int"))
    // 3. candidates by bucket equi-join; rep prints by id — both
    //    static lookups; left joins keep candidate-less clips alive
    val withRep = entries
      .join(stored, Seq("shard", "bk", "bv", "ek"), "left")
      .join(repPrints, Seq("rep"), "left")
    // 4. codegen'd envelope-sum pre-filter + typed exact distance
    val msd = AudioDedup.maxSumDiff(maxMeanDiffE2)
    val votes = withRep.select(col("doc_id"), col("rep"),
        col("eb"), col("ea"),
        coalesce(col("rep").isNotNull &&
          abs(col("esa") - col("esb")) <= msd, lit(false)).as("pre"))
      .as[(Long, Option[Long], Seq[Int], Option[Seq[Int]], Boolean)]
      .mapPartitions(_.map { case (id, rep, eb, ea, pre) =>
        val verified = pre && ea.isDefined && {
          val a = ea.get
          var s = 0L
          var i = 0
          val n = math.min(a.length, eb.length)
          while (i < n) { s += math.abs(a(i) - eb(i)).toLong; i += 1 }
          s * 100L / AudioDedup.EnvBins <= maxMeanDiffE2
        }
        ClipVote(id, rep, verified)
      })
    // 5. per-clip fold to a single verdict
    Dedup.foldVerdicts(votes)(_.doc_id, v => v.rep.filter(_ => v.verified))(
      ClipVerdict.apply _)
  }
}
