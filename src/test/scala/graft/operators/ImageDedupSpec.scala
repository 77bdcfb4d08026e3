package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** dHash image near-dup: the kernel against the pre-engine reference,
  * twin planting, band-candidate completeness on planted pairs,
  * exact-verify rejection of distinct images, cross-codec (JPEG
  * source vs PNG re-encode) pairing, and the end-to-end verdict. */
class ImageDedupSpec extends SparkTestBase {

  private def docsDF(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(id => (id, s"text $id")).toDF("doc_id", "text")
  }

  test("planted twin hashes collide; distinct images stay far") {
    val corpus = ImageDedup.withPlantedTwins(docsDF(0L to 60L))
    val t = corpus.collect()
      .map(r => r.getLong(0) -> ImageDedup.frames(r.getAs[Array[Byte]](1)).head.hash).toMap
    // twins of 0, 20, 40, 60 planted
    Seq(0L, 20L, 40L, 60L).foreach { src =>
      val d = java.lang.Long.bitCount(t(src) ^ t(src + 1000000L))
      assert(d <= 3, s"twin of $src at hamming $d")
    }
    // distinct PNG images (textured pixels) stay far from the twin
    // margin. Flat JPEG fixtures are EXPECTED to collide in dHash
    // (piecewise-constant thumbnails — a gradient hash carries no
    // signal there); those pairs become candidates and are rejected
    // by the per-channel verify, which the verdict test pins.
    val pngIds = (0L to 60L).filter(_ % 2 == 0)
    val far = for (a <- pngIds; b <- pngIds if a < b)
      yield java.lang.Long.bitCount(t(a) ^ t(b))
    assert(far.count(_ <= 3) === 0)
  }

  test("verdict: twins dropped with their source as witness, rest kept") {
    val corpus = ImageDedup.withPlantedTwins(docsDF(0L to 99L))
    val res = ImageDedup.dedup(corpus)
    val rows = res.collect().map(r =>
      r.getLong(0) -> (r.isNullAt(1), r.getBoolean(2))).toMap
    Seq(0L, 20L, 40L, 60L, 80L).foreach { src =>
      assert(rows(src + 1000000L) === ((false, false)), s"twin of $src kept")
      assert(rows(src) === ((true, true)), s"source $src dropped")
    }
    val matchIds = res.filter(!col("keep"))
      .select(col("doc_id"), col("match_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(matchIds === Map(1000000L -> 0L, 1000020L -> 20L,
      1000040L -> 40L, 1000060L -> 60L, 1000080L -> 80L))
  }

  test("cross-codec pair: JPEG source vs its PNG re-encode near-dups") {
    import spark.implicits._
    // doc 7 is odd → plantHeader yields a JPEG; re-encode its decoded
    // pixels (unperturbed) as PNG under another id — the operator
    // must pair them across codecs through the shared decode
    val jpeg = Multimodal.plantHeader(7L, Array.emptyByteArray)
    val Some((w, h, px)) = Multimodal.decodeImage(jpeg)
    val png = ImageDedup.pngFromPixels(w, h, px)
    val corpus = Seq((7L, jpeg), (8000000L, png)).toDF("doc_id", "media")
    val res = ImageDedup.dedup(corpus).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(res === Map(7L -> true, 8000000L -> false))
  }

  test("identical images collapse in the exact stage regardless of cap") {
    import spark.implicits._
    // 30 identical images form ONE thumbnail family — the exact
    // stage (hash aggregation, uncapped by design) collapses them
    // onto doc 1 even under a tiny near-stage bucket cap, because
    // the banded candidate join only ever sees the single
    // representative. This is what keeps the realistic mega-class
    // (one logo file on millions of pages) linear.
    val bytes = Multimodal.plantHeader(4L, Array.emptyByteArray)
    val corpus = (1L to 30L).map(i => (i, bytes)).toDF("doc_id", "media")
    Seq(10, 1000).foreach { cap =>
      val res = ImageDedup.dedup(corpus, maxBucketSize = cap)
      assert(res.filter(col("keep")).count() === 1L)
      assert(res.filter(!col("keep") && col("match_id") === 1L).count() === 29L)
    }
  }

  test("near-dup families chain through representatives") {
    import spark.implicits._
    // family A = {1, 2} (identical), family B = {5, 6} (identical,
    // near-dup of A): B's members must all resolve to witness 1 (A's
    // rep), A's rep keeps, A's non-rep member witnesses 1
    val base = Multimodal.plantHeader(4L, Array.emptyByteArray)
    val Some((w, h, px)) = Multimodal.decodeImage(base)
    val p = px.clone()
    var i = 0
    while (i < p.length) {
      if ((i / 3) % 3 == 0) p(i) = math.min(255, (p(i) & 0xff) + 1).toByte
      i += 1
    }
    val nearBytes = ImageDedup.pngFromPixels(w, h, p)
    val corpus = Seq((1L, base), (2L, base), (5L, nearBytes), (6L, nearBytes))
      .toDF("doc_id", "media")
    val res = ImageDedup.dedup(corpus).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2))).toMap
    assert(res(1L) === ((-1L, true)))
    assert(res(2L) === ((1L, false)))
    assert(res(5L) === ((1L, false)))
    assert(res(6L) === ((1L, false)))
  }

  test("image kernel is bit-identical to the reference thumbRow and bucket entries") {
    import spark.implicits._
    val corpus = ImageDedup.withPlantedTwins(docsDF(0L to 60L))
      .unionByName(Seq((7000L, "junk".getBytes("UTF-8")), (7001L, null: Array[Byte]))
        .toDF("doc_id", "media"))
    val ref = corpus.as[(Long, Array[Byte])].collect().flatMap { case (id, b) =>
      Option(b).flatMap(MediaReference.thumbRow).map(id -> _) }.toMap
    val refKeys = MediaReference.keysOf(MediaReference.bucketEntries(
      ref.toSeq.map { case (id, (_, dh, a, b, _, _, _)) => (id, dh, a, b) }
        .toDF("doc_id", "hash", "gA", "gB")))
    val got = MediaReference.printsOf(ImageDedup.prints(corpus))
    assert(got.keySet == ref.keySet && ref.size == corpus.count() - 2, "prints must drop exactly the junk and null rows")
    ref.foreach { case (id, (t, _, _, _, sr, sg, sb)) =>
      val (fr, sm, keys) = got(id)
      assert(fr == t && sm == Seq(sr, sg, sb), s"fr/sm diverge for doc $id")
      assert(keys == refKeys(id) && keys.size == 8, s"bucket keys diverge for doc $id")
    }
  }
}
