package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The media near-dup engine: ONE chain — fingerprint → bucket keys →
  * capped bucket groups → sum gate → exact frame-containment verify →
  * exact-family window → verdict, plus the stored index and the
  * admission plan — driven by a per-row modality kernel.
  * [[ImageDedup]], [[AudioDedup]] and [[VideoDedup]] are the three
  * modalities; each supplies only decode → per-frame features
  * ([[frames]]) and its planted fixtures.
  *
  * '''Kernel contract.''' [[frames]] maps one media blob to the
  * features of its frames, empty when it does not decode (the engine
  * maps a null blob to empty before calling it). Each [[MediaDedup.Frame]]
  * carries `Cells` ints, `Channels` sums of those ints (per channel),
  * a 64-bit perceptual hash and two grid keys. [[print]] flattens them
  * into one row:
  *  - `fr`: the frames' cells back to back (frame k = `fr[k·Cells,
  *    (k+1)·Cells)`), the exact-family key and the verify side;
  *  - `sm`: the frames' channel sums back to back (stride `Channels`),
  *    the sum gate's side;
  *  - `keys`: the row's distinct (bk, bv, ck) bucket keys — per frame,
  *    the hash's 4 16-bit bands × the 2 grid keys, `bk` = 2·band +
  *    grid, so a pair within Hamming distance 3 that shares a grid
  *    cell shares a bucket.
  * An image is one frame of 216 cells (9×8 RGB thumbnail) and 3
  * channels, an audio clip one frame of 65 cells (envelope bins) and 1
  * channel, a video its sampled frames, each an image frame.
  *
  * '''Verify.''' `b` is a near-dup of `a` iff at least `MinContainPct`%
  * of b's frames have a partner frame in `a` whose mean absolute cell
  * difference ⌊Σ|Δ|·100/Cells⌋ is ≤ `maxMeanDiffE2`. Before any cell
  * is compared, the same containment over `sm` with the per-channel
  * test |Δsum| ≤ [[maxSumDiff]] gates the pair: a frame
  * within the exact bound has Σ|Δ| ≤ ⌊(m+1)·Cells/100⌋ and each
  * channel's |Δsum| ≤ Σ|Δ|, so the gate is a necessary condition and
  * drops nothing the verify would keep. For a single frame (image,
  * audio) containment is 1 matched frame of 1, which passes for any
  * `MinContainPct` in 1..100 exactly when that frame matches — the
  * plain `mean_diff_e2 ≤ maxMeanDiffE2` distance test behind the
  * channel-sum pre-filter.
  *
  * '''Soundness.''' Every drop or `near_dup` verdict carries an
  * exact-verified witness; banding and the hot-bucket cap can only
  * cost recall, which the `q_dedup_*` contract keys gate on planted
  * twins.
  */
abstract class MediaDedup extends Serializable {
  import MediaDedup._

  /** Ints per frame. */
  val Cells: Int
  /** Channel sums per frame. */
  val Channels: Int
  /** Default verify bound on the mean absolute cell difference (e2
    * fixed point). */
  val DefaultMaxMeanDiffE2: Long
  /** Share of b's frames (percent) that must have a partner in a. */
  val MinContainPct: Int

  /** Features of every frame of one non-null blob; empty when it does
    * not decode. */
  def frames(bytes: Array[Byte]): Seq[Frame]

  /** The per-row kernel: (fr, sm, keys) of one blob, None for null or
    * undecodable media. */
  final def print(bytes: Array[Byte]): Option[Print] = {
    val fs = if (bytes == null) Nil else frames(bytes)
    if (fs.isEmpty) None
    else Some(Print(fs.flatMap(_.cells).toArray, fs.flatMap(_.sums).toArray,
      fs.flatMap(bucketKeys).distinct.toArray))
  }

  /** Largest Σ|per-cell diff| of a frame within `maxMeanDiffE2`:
    * ⌊Σ·100/Cells⌋ ≤ m ⟹ Σ ≤ ⌊(m+1)·Cells/100⌋. */
  final def maxSumDiff(maxMeanDiffE2: Long): Long =
    (maxMeanDiffE2 + 1) * Cells / 100

  /** Do ≥ `MinContainPct`% of b's `nb` frames have a partner among a's
    * `na`? `near(ka, kb)` compares frame ka of a with frame kb of b. */
  private def contains(na: Int, nb: Int)(near: (Int, Int) => Boolean): Boolean = {
    var matched = 0
    var kb = 0
    while (kb < nb) {
      var ka = 0
      while (ka < na && !near(ka, kb)) ka += 1
      if (ka < na) matched += 1
      kb += 1
    }
    nb > 0 && matched * 100 >= nb * MinContainPct
  }

  /** The sum gate: containment with the per-channel |Δsum| ≤ `msd` test. */
  final def sumsContained(sa: Array[Long], sb: Array[Long], msd: Long): Boolean =
    contains(sa.length / Channels, sb.length / Channels) { (ka, kb) =>
      var c = 0
      while (c < Channels &&
          math.abs(sa(ka * Channels + c) - sb(kb * Channels + c)) <= msd) c += 1
      c == Channels
    }

  /** The exact verify: containment with the mean-abs-diff test. */
  final def framesContained(fa: Array[Int], fb: Array[Int], maxMeanDiffE2: Long): Boolean =
    contains(fa.length / Cells, fb.length / Cells) { (ka, kb) =>
      var s = 0L
      var i = 0
      while (i < Cells) {
        s += math.abs(fa(ka * Cells + i) - fb(kb * Cells + i))
        i += 1
      }
      s * 100L / Cells <= maxMeanDiffE2
    }

  /** (doc_id, fr, sm, keys) of every decodable blob of `withMedia`
    * (doc_id, media): the kernel in one typed pass, no shuffle. Null
    * and undecodable media drop out. */
  def prints(withMedia: DataFrame): DataFrame = {
    val spark = withMedia.sparkSession
    import spark.implicits._
    withMedia.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) => print(bytes).map(p => (id, p.fr, p.sm, p.keys)) }
      .toDF("doc_id", "fr", "sm", "keys")
  }

  /** Pairs of `pairs` (a, b, sma, smb, fra, frb) that pass the sum
    * gate and then the exact verify, as (a, b). A typed
    * `mapPartitions`: an optimizer barrier, so the per-element loops
    * never merge into a join condition (where an interpreted lambda
    * would run for every pair of a nested-loop join). */
  def verify(pairs: DataFrame, maxMeanDiffE2: Long): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val msd = maxSumDiff(maxMeanDiffE2)
    pairs.select(col("a"), col("b"), col("sma"), col("smb"), col("fra"), col("frb"))
      .as[(Long, Long, Array[Long], Array[Long], Array[Int], Array[Int])]
      .mapPartitions(_.collect {
        case (a, b, sa, sb, fa, fb)
            if sumsContained(sa, sb, msd) && framesContained(fa, fb, maxMeanDiffE2) => (a, b)
      })
      .toDF("a", "b")
  }

  /** Verified near-dup pairs (a < b) of `prints`: rows sharing ≥1
    * bucket key, each bucket capped at its `maxBucketSize` lowest ids
    * (a degenerate bucket — one blank frame on a million pages — stays
    * bounded while the kept members still pair; capped-out rows are
    * the `media_bucket_truncated_N` observe metric), then [[verify]].
    * One shuffle groups each bucket's sorted ids (a group holds all
    * its ids, 8 B each), and a typed pass emits the kept members'
    * pairs — the keys are read once, with no self-join. Output
    * (a, b). */
  def nearDupPairs(prints: DataFrame, maxMeanDiffE2: Long = DefaultMaxMeanDiffE2,
                   maxBucketSize: Int = 1000): DataFrame = {
    val spark = prints.sparkSession
    import spark.implicits._
    val cand = prints.select(col("doc_id"), explode(col("keys")).as("k"))
      .groupBy(col("k")).agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .observe(s"media_bucket_truncated_${bucketObserveSeq.incrementAndGet()}",
        sum(greatest(size(col("ids")) - maxBucketSize, lit(0)).cast("long")).as("n_dropped"))
      .select(slice(col("ids"), 1, maxBucketSize)).as[Array[Long]]
      .flatMap(ids => for (i <- ids.indices.iterator; j <- i + 1 until ids.length)
        yield (ids(i), ids(j)))
      .toDF("a", "b").distinct()
    verify(cand.join(sides(prints, "a"), "a").join(sides(prints, "b"), "b"), maxMeanDiffE2)
  }

  /** (id, sm‹id›, fr‹id›) of `prints`: one side of a verified pair. */
  private def sides(prints: DataFrame, id: String): DataFrame =
    prints.select(col("doc_id").as(id), col("sm").as("sm" + id), col("fr").as("fr" + id))

  /** `prints` with `rep`, the min doc_id of its exact-`fr` family:
    * one window over the frames. The family stage of
    * [[dedupFromFamilies]] and [[buildIndex]]. */
  def families(prints: DataFrame): DataFrame =
    prints.withColumn("rep", min(col("doc_id")).over(Window.partitionBy(col("fr"))))

  /** Keep/drop verdict (doc_id, match_id, keep) for every id of `ids`
    * over its `prints`: a row is dropped iff a verified near-dup with a
    * smaller id exists (keep-min); `match_id` is the smallest such
    * witness. Ids without a print (undecodable) are kept.
    *
    * Two stages: identical `fr` collapse to their min-id
    * representative ([[families]]), and the near stage runs over
    * representatives only, so pair cost scales with distinct content.
    * Members share their rep's exact `fr`, so member↔member
    * containment IS rep↔rep containment, and the smallest witness of
    * member d is `coalesce(nbr_min, rep when rep < d)`: a verified
    * neighbor family's min is below this family's rep, and the rep
    * witnesses every other member.
    *
    * `fams` is [[families]] of the prints. The family map has four
    * readers here (the reps' keys, both verify sides, the member→rep
    * map), so a caller that caches prints caches them after the window
    * ([[withVerdict]]): the readers then share the cache instead of
    * each re-sorting the frames. */
  def dedupFromFamilies(ids: DataFrame, fams: DataFrame,
                        maxMeanDiffE2: Long = DefaultMaxMeanDiffE2,
                        maxBucketSize: Int = 1000): DataFrame = {
    val repMatch = nearDupPairs(fams.filter(col("doc_id") === col("rep")),
        maxMeanDiffE2, maxBucketSize)
      .groupBy(col("b").as("rep")).agg(min(col("a")).as("nbr_min"))
    val verdict = fams.select(col("doc_id"), col("rep"))
      .join(repMatch, Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("nbr_min"), when(col("rep") < col("doc_id"), col("rep")))
          .as("match_id"))
    ids.select(col("doc_id"))
      .join(verdict, Seq("doc_id"), "left")
      .select(col("doc_id"), col("match_id"), col("match_id").isNull.as("keep"))
  }

  /** Runs `use(fams, verdict)` over (doc_id, media): `fams` is
    * [[families]] of its prints, cached and filled before the verdict
    * runs (the verdict's leaf stages are submitted concurrently, and a
    * cold cache would decode once per stage), and released when `use`
    * returns; `verdict` is [[dedupFromFamilies]], pinned, and `use`
    * owns its release (it is released here only if `use` throws). The
    * one cache policy of [[dedup]] and every caller that needs the
    * prints too. */
  def withVerdict[T](withMedia: DataFrame, maxMeanDiffE2: Long = DefaultMaxMeanDiffE2,
                     maxBucketSize: Int = 1000)(use: (DataFrame, DataFrame) => T): T = {
    val fams = families(prints(withMedia))
    graft.Materialize.withCached(fams) {
      fams.count()
      graft.Materialize.handOff(graft.Materialize.pin(dedupFromFamilies(
        withMedia.select(col("doc_id")), fams, maxMeanDiffE2, maxBucketSize)))(use(fams, _))
    }
  }

  /** End-to-end verdict over (doc_id, media), pinned ([[withVerdict]]);
    * the caller releases it. */
  def dedup(withMedia: DataFrame, maxMeanDiffE2: Long = DefaultMaxMeanDiffE2,
            maxBucketSize: Int = 1000): DataFrame =
    withVerdict(withMedia, maxMeanDiffE2, maxBucketSize)((_, res) => res)

  /** Build the stored index at `dir` from (doc_id, media), so a
    * re-crawl admits against it ([[admission]]) instead of re-pairing
    * the corpus. Null and undecodable media are skipped. Layout:
    *  - `dir/reps`: (doc_id, fr, sm) of one representative (min id)
    *    per exact-`fr` family — members share their rep's `fr`, so
    *    storing reps loses nothing — sharded on doc_id mod 16;
    *  - `dir/buckets`: (doc_id, bk, bv, ck) of the reps' keys, each
    *    bucket capped at its `maxBucketSize` lowest ids, sharded on the
    *    key hash into [[MediaDedup.BucketShards]] directories.
    * Typically committed through [[graft.IndexCatalog.openOrBuild]]. */
  def buildIndex(withMedia: DataFrame, dir: String, maxBucketSize: Int = 1000,
                 filesPerShard: Int = 2): Unit = {
    val reps = families(prints(withMedia))
      .filter(col("doc_id") === col("rep")).drop("rep")
    graft.Materialize.withCached(reps) {
      graft.sources.CorpusSink.writeParquet(
        reps.select(col("doc_id"), col("fr"), col("sm"),
          pmod(col("doc_id"), lit(16)).cast("int").as("shard")),
        s"$dir/reps", shardCol = "shard", sortCol = "doc_id",
        filesPerShard = filesPerShard)
      val capped = reps.select(col("doc_id"), explode(col("keys")).as("k"))
        .select(col("doc_id"), col("k.*"))
        .withColumn("r", row_number().over(
          Window.partitionBy(col("bk"), col("bv"), col("ck")).orderBy(col("doc_id"))))
        .filter(col("r") <= maxBucketSize)
        .select(col("doc_id"), col("bk"), col("bv"), col("ck"),
          pmod(hash(col("bk"), col("bv"), col("ck")), lit(BucketShards))
            .cast("int").as("shard"))
      graft.sources.CorpusSink.writeParquet(capped, s"$dir/buckets",
        shardCol = "shard", sortCol = "doc_id", filesPerShard = filesPerShard)
    }
  }

  /** Admission verdicts of `media` (doc_id, media) against the stored
    * index at `dir` ([[buildIndex]]): a row is `near_dup` iff some
    * stored representative contains it (the verify above), with the
    * smallest such rep as `match_id`; null or undecodable media is
    * `novel`. ONE lazy plan serves a batch and a stream — `media` may
    * be a streaming DataFrame:
    *  1. the kernel per row (no shuffle), the row's keys exploded
    *     (outer, so a row without keys survives);
    *  2. stream-static left joins into `dir/buckets` (candidate reps)
    *     and `dir/reps` (their prints). A left join builds on the
    *     stored side, so each call broadcasts the whole index while
    *     its files are under the broadcast threshold, and shuffles it
    *     past that (ROADMAP item 7 has the measured sizes);
    *  3. a typed vote per candidate: sum gate, then exact containment;
    *  4. [[Dedup.foldVerdicts]] folds each doc's votes to one verdict,
    *     keeping no state across docs or micro-batches.
    * Pairs within `media` are not compared. */
  def admission(media: DataFrame, dir: String,
                maxMeanDiffE2: Long = DefaultMaxMeanDiffE2): Dataset[Verdict] = {
    val spark = media.sparkSession
    import spark.implicits._
    // the stored schemas are stated, so building the plan infers none
    // (parquet schema inference runs a job)
    val buckets = spark.read.schema("doc_id BIGINT, bk INT, bv BIGINT, ck BIGINT")
      .parquet(s"$dir/buckets")
      .select(col("bk"), col("bv"), col("ck"), col("doc_id").as("rep"))
    val reps = spark.read.schema("doc_id BIGINT, fr ARRAY<INT>, sm ARRAY<BIGINT>")
      .parquet(s"$dir/reps")
      .select(col("doc_id").as("rep"), col("fr").as("fa"), col("sm").as("sa"))
    val msd = maxSumDiff(maxMeanDiffE2)
    val votes = media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val p = print(bytes).getOrElse(Print(Array.empty, Array.empty, Array.empty))
        (id, p.fr, p.sm, p.keys)
      }
      .toDF("doc_id", "fb", "sb", "keys")
      .select(col("doc_id"), col("fb"), col("sb"), explode_outer(col("keys")).as("k"))
      .select(col("doc_id"), col("fb"), col("sb"), col("k.*"))
      .join(buckets, Seq("bk", "bv", "ck"), "left")
      .join(reps, Seq("rep"), "left")
      .select(col("doc_id"), col("rep"), col("fa"), col("fb"), col("sa"), col("sb"))
      .as[(Long, Option[Long], Array[Int], Array[Int], Array[Long], Array[Long])]
      .mapPartitions(_.map { case (id, rep, fa, fb, sa, sb) =>
        Vote(id, rep, fa != null && sumsContained(sa, sb, msd) &&
          framesContained(fa, fb, maxMeanDiffE2))
      })
    Dedup.foldVerdicts(votes)(_.doc_id, v => v.rep.filter(_ => v.verified))(Verdict.apply _)
  }
}

object MediaDedup {

  /** One frame's features: `Cells` ints, `Channels` sums, a 64-bit
    * perceptual hash and its two grid keys. */
  final case class Frame(cells: Array[Int], sums: Array[Long], hash: Long,
                         gridA: Long, gridB: Long)

  /** One bucket key: `bk` = 2·band + grid, `bv` the band's 16 bits,
    * `ck` the grid key. */
  final case class Key(bk: Int, bv: Long, ck: Long)

  /** The kernel's row: flat frames, flat channel sums, distinct keys. */
  final case class Print(fr: Array[Int], sm: Array[Long], keys: Array[Key])

  /** Admission verdict, one per doc_id. */
  final case class Verdict(doc_id: Long, status: String, match_id: Option[Long],
                           keep: Boolean)

  /** Internal vote row (public: encoder codegen needs member access). */
  final case class Vote(doc_id: Long, rep: Option[Long], verified: Boolean)

  /** Suffix of the capped-bucket observe metric: unique across every
    * modality, as one plan may fold several modalities' verdicts. */
  private val bucketObserveSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Directory shards of the stored bucket table. */
  val BucketShards = 32

  /** A frame's 8 keys: 4 16-bit bands of the hash × 2 grid keys. */
  def bucketKeys(f: Frame): Seq[Key] =
    for (band <- 0 until 4; grid <- 0 until 2)
      yield Key(band * 2 + grid, (f.hash >> (band * 16)) & 0xffffL,
        if (grid == 0) f.gridA else f.gridB)
}
