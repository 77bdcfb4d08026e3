package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Sampled-frame video near-dup: the kernel against the pre-engine
  * columnar reference, fingerprint determinism, twin planting
  * (re-encoded PNG re-mux + frame-dropped), containment semantics
  * (asymmetric, order-independent), exact-stage family collapse, and
  * the end-to-end verdict. */
class VideoDedupSpec extends SparkTestBase {

  private def docsDF(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(id => (id, s"text $id")).toDF("doc_id", "text")
  }

  test("fingerprints sample every 2nd decodable frame with stable features") {
    // the engine's prints against the pre-engine columnar reference
    import spark.implicits._
    val corpus = VideoDedup.withPlantedTwins(docsDF(0L to 19L))
      .unionByName(Seq((7000L, "junk".getBytes("UTF-8")), (7001L, null: Array[Byte]))
        .toDF("doc_id", "media"))
    // (the reference decode throws on null media; the engine skips it)
    val refRows = MediaReference.videoFingerprints(corpus.filter(col("media").isNotNull)).cache()
    val pr = refRows.select(col("doc_id"), col("fidx")).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(_.getLong(1)).sorted.toSeq }
    val got = MediaReference.printsOf(VideoDedup.prints(corpus))
    (0L to 19L).foreach { id =>
      val nf = Multimodal.plantedVideoFrames(id)
      val want = (0 until nf).filter(_ % 2 == 0).map(_.toLong)
      assert(pr(id) === want, s"doc $id sampled ${pr(id)}, want $want")
      assert(got(id)._1.length === want.length * VideoDedup.Cells, s"doc $id frame count")
    }
    // fr / sm equal the columnar streamTables, keys the per-stream
    // distinct frame bucket entries
    val st = MediaReference.streamTables(refRows).collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getSeq[Long](2)))).toMap
    val refKeys = MediaReference.keysOf(MediaReference.bucketEntries(refRows))
    assert(got.keySet == st.keySet && !got.contains(7000L) && !got.contains(7001L))
    st.foreach { case (id, (fr, sm)) =>
      assert(got(id)._1 == fr && got(id)._2 == sm, s"fr/sm diverge for doc $id")
      assert(got(id)._3 == refKeys(id), s"bucket keys diverge for doc $id")
    }
    refRows.unpersist()
    // determinism: a second pass yields identical rows
    assert(MediaReference.printsOf(VideoDedup.prints(corpus)) == got)
  }

  test("verdict: both twin kinds dropped with their source as witness") {
    val corpus = VideoDedup.withPlantedTwins(docsDF(0L to 99L))
    val res = VideoDedup.dedup(corpus)
    val matchIds = res.filter(!col("keep"))
      .select(col("doc_id"), col("match_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // re-encoded twins of 0, 20, 40, 60, 80; frame-dropped twins of
    // 10, 30, 50, 70, 90 — every planted twin must fall, witnessed by
    // an id no larger than its source
    Seq(0L, 20L, 40L, 60L, 80L).foreach { src =>
      assert(matchIds.contains(src + 1000000L), s"re-encoded twin of $src kept")
      assert(matchIds(src + 1000000L) <= src)
    }
    Seq(10L, 30L, 50L, 70L, 90L).foreach { src =>
      assert(matchIds.contains(src + 2000000L), s"frame-dropped twin of $src kept")
      assert(matchIds(src + 2000000L) <= src)
    }
  }

  test("containment is asymmetric: a sub-stream is dropped, a super-stream kept") {
    import spark.implicits._
    // stream 1 = frames of doc 3 (5 frames); stream 9 = the same
    // minus the last TWO frames (3 frames): 9's sampled frames are a
    // subset of 1's → dropped; reversing ids keeps the longer stream
    // (its novel frames make it not contained)
    val frames = Multimodal.decodeAvi(Multimodal.plantAvi(3L)).get
    val w = Multimodal.plantedWidth(3L); val h = Multimodal.plantedHeight(3L)
    val full = Multimodal.aviFromFrames(frames, w, h)
    val sub = Multimodal.aviFromFrames(frames.dropRight(2), w, h)
    val r1 = VideoDedup.dedup(
      Seq((1L, full), (9L, sub)).toDF("doc_id", "media")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(r1 === Map(1L -> true, 9L -> false))
    val r2 = VideoDedup.dedup(
      Seq((1L, sub), (9L, full)).toDF("doc_id", "media")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(r2 === Map(1L -> true, 9L -> true))
  }

  test("identical streams collapse in the exact stage regardless of cap") {
    import spark.implicits._
    val bytes = Multimodal.plantAvi(4L)
    val corpus = (1L to 30L).map(i => (i, bytes)).toDF("doc_id", "media")
    Seq(10, 1000).foreach { cap =>
      val res = VideoDedup.dedup(corpus, maxBucketSize = cap)
      assert(res.filter(col("keep")).count() === 1L)
      assert(res.filter(!col("keep") && col("match_id") === 1L).count() === 29L)
    }
  }

  test("undecodable containers are kept, distinct streams stay apart") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Multimodal.plantAvi(1L)),
      (2L, Multimodal.plantAvi(2L)),
      (3L, Array.fill[Byte](64)(7))) // not RIFF at all
      .toDF("doc_id", "media")
    val res = VideoDedup.dedup(corpus).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(res === Map(1L -> true, 2L -> true, 3L -> true))
  }
}
