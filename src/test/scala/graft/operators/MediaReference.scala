package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The per-modality fingerprint kernels as they stood before the media
  * near-dup engine (graft.operators.MediaDedup), kept as bit-for-bit
  * references for its `fr`, `sm` and bucket keys: the image
  * `thumbRow`, the audio `printRow`, the columnar video
  * `fingerprints` + `streamTables`, and the columnar band/grid bucket
  * entries — and the video verify's typed loops, `sumGate` and
  * `pairContainment`, as references for the engine's multi-frame
  * containment. */
object MediaReference {

  /** Image: (thumb, dhash, ckA, ckB, sr, sg, sb) of one blob. */
  def thumbRow(bytes: Array[Byte])
      : Option[(Seq[Int], Long, Long, Long, Long, Long, Long)] =
    Multimodal.decodeImage(bytes).map { case (w, h, px) => thumbOf(px, w, h) }

  def thumbOf(px: Array[Byte], w: Int, h: Int)
      : (Seq[Int], Long, Long, Long, Long, Long, Long) = {
    val rp = Multimodal.resizePixels(px, w, h, 9, 8)
    val t = Array.tabulate(216)(i => rp(i) & 0xff)
    def cell(x: Int, y: Int): Int = { val i = 3 * (y * 9 + x); t(i) + t(i + 1) + t(i + 2) }
    var bits = 0L
    for (y <- 0 until 8; x <- 0 until 8)
      if (cell(x + 1, y) > cell(x, y)) bits |= 1L << (y * 8 + x)
    val s = new Array[Long](3)
    t.indices.foreach(i => s(i % 3) += t(i))
    def key(off: Long): Long =
      ((s(0) + off) / 2304) * 81 + ((s(1) + off) / 2304) * 9 + (s(2) + off) / 2304
    (t.toSeq, bits, key(0L), key(1152L), s(0), s(1), s(2))
  }

  /** Audio: (env, abits, ekA, ekB, es) of one blob. */
  def printRow(bytes: Array[Byte]): Option[(Seq[Int], Long, Long, Long, Long)] =
    Multimodal.decodeWav(bytes).map { case (_, ch, samples) =>
      val env = AudioDedup.envelope(ch, samples)
      var bits = 0L
      (0 until 64).foreach(k => if (env(k + 1) > env(k)) bits |= 1L << k)
      val s = env.map(_.toLong).sum
      val m = s / 65
      (env.toSeq, bits, m / 2048L, (m + 1024L) / 2048L, s)
    }

  /** 4×16-bit Hamming bands of a 64-bit hash column. */
  def bands(hashCol: Column): Column =
    array((0 until 4).map(b => shiftright(hashCol, b * 16).bitwiseAND(lit(0xffffL))): _*)

  /** Distinct (doc_id, bk, bv, ck) entries: 4 bands × 2 grids per row
    * of (doc_id, hash, gA, gB). */
  def bucketEntries(rows: DataFrame): DataFrame = {
    val b0 = rows.select(col("doc_id"), col("gA"), col("gB"),
      posexplode(bands(col("hash"))).as(Seq("band", "bv")))
    b0.select(col("doc_id"), (col("band") * 2).as("bk"), col("bv"), col("gA").as("ck"))
      .unionByName(b0.select(col("doc_id"), (col("band") * 2 + 1).as("bk"), col("bv"),
        col("gB").as("ck")))
      .distinct()
  }

  /** Video: one row per sampled decodable frame, (doc_id, fidx, thumb,
    * hash, gA, gB, sr, sg, sb). */
  def videoFingerprints(withVideo: DataFrame): DataFrame = {
    val spark = withVideo.sparkSession
    import spark.implicits._
    withVideo.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        Multimodal.decodeAvi(bytes).toSeq.flatMap { frames =>
          frames.zipWithIndex.filter(_._2 % 2 == 0).flatMap { case (fb, f) =>
            Multimodal.decodeImage(fb).map { case (w, h, px) =>
              val (t, dh, ckA, ckB, sr, sg, sb) = thumbOf(px, w, h)
              (id, f.toLong, t, dh, ckA, ckB, sr, sg, sb)
            }
          }
        }
      }
      .toDF("doc_id", "fidx", "thumb", "hash", "gA", "gB", "sr", "sg", "sb")
  }

  /** Video: (doc_id, fr, sm) — the frame-ordered flattening by one
    * aggregation over the fingerprint rows. */
  def streamTables(prints: DataFrame): DataFrame =
    prints.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("fidx"), col("thumb"), col("sr"), col("sg"),
        col("sb"))).as("f0"))
      .select(col("doc_id"), array_sort(col("f0")).as("f0"))
      .select(col("doc_id"),
        flatten(transform(col("f0"), f => f.getField("thumb"))).as("fr"),
        flatten(transform(col("f0"),
          f => array(f.getField("sr"), f.getField("sg"), f.getField("sb")))).as("sm"))

  /** The engine's prints as doc_id → (fr, sm, key set). */
  def printsOf(prints: DataFrame): Map[Long, (Seq[Int], Seq[Long], Set[(Int, Long, Long)])] =
    prints.collect().map { r =>
      r.getLong(0) -> ((r.getSeq[Int](1), r.getSeq[Long](2),
        r.getSeq[org.apache.spark.sql.Row](3).map(k => (k.getInt(0), k.getLong(1), k.getLong(2)))
          .toSet))
    }.toMap

  /** Reference bucket entries as doc_id → key set. */
  def keysOf(entries: DataFrame): Map[Long, Set[(Int, Long, Long)]] =
    entries.collect().groupBy(_.getLong(0)).map { case (id, rs) =>
      id -> rs.map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSet }

  /** Video `sumGate`'s loop on one pair: do ≥ `minContainPct`% of b's
    * frames have a partner in a with every channel |Δsum| ≤ msd? */
  def sumGate(sa: Array[Long], sb: Array[Long], maxSumDiff: Long,
              minContainPct: Int): Boolean = {
    val na = sa.length / 3
    val nb = sb.length / 3
    var matched = 0
    var kb = 0
    while (kb < nb) {
      var ok = false
      var ka = 0
      while (ka < na && !ok) {
        if (math.abs(sa(ka * 3) - sb(kb * 3)) <= maxSumDiff &&
            math.abs(sa(ka * 3 + 1) - sb(kb * 3 + 1)) <= maxSumDiff &&
            math.abs(sa(ka * 3 + 2) - sb(kb * 3 + 2)) <= maxSumDiff)
          ok = true
        ka += 1
      }
      if (ok) matched += 1
      kb += 1
    }
    nb > 0 && matched * 100 >= nb * minContainPct
  }

  /** Video `pairContainment`'s loop on one pair: (n_b, n_matched) over
    * 216-cell frames. */
  def pairContainment(fa: Array[Int], fb: Array[Int], maxMeanDiffE2: Long): (Long, Long) = {
    val cells = 216
    val na = fa.length / cells
    val nb = fb.length / cells
    var matched = 0
    var kb = 0
    while (kb < nb) {
      var ok = false
      var ka = 0
      while (ka < na && !ok) {
        var s = 0L
        var i = 0
        val oa = ka * cells
        val ob = kb * cells
        while (i < cells) {
          s += math.abs(fa(oa + i) - fb(ob + i)).toLong
          i += 1
        }
        if (s * 100L / cells <= maxMeanDiffE2) ok = true
        ka += 1
      }
      if (ok) matched += 1
      kb += 1
    }
    (nb.toLong, matched.toLong)
  }
}
