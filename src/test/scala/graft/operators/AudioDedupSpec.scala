package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Energy-envelope audio near-dup: the kernel against the pre-engine
  * reference, fingerprint determinism, twin planting, band-candidate completeness on planted pairs, exact
  * verify rejection of distinct clips, and the end-to-end verdict
  * with exact-family collapse. */
class AudioDedupSpec extends SparkTestBase {

  private def docsDF(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(id => (id, s"text $id")).toDF("doc_id", "text")
  }

  test("planted twin hashes collide; distinct clips stay far") {
    val corpus = AudioDedup.withPlantedTwins(docsDF(0L to 60L))
    val t = corpus.collect()
      .map(r => r.getLong(0) -> AudioDedup.frames(r.getAs[Array[Byte]](1)).head.hash).toMap
    Seq(0L, 20L, 40L, 60L).foreach { src =>
      val d = java.lang.Long.bitCount(t(src) ^ t(src + 1000000L))
      assert(d <= 3, s"twin of $src at hamming $d")
    }
    // distinct planted clips (independent sample streams) are far
    val ids = (0L to 60L)
    val far = for (a <- ids; b <- ids if a < b)
      yield java.lang.Long.bitCount(t(a) ^ t(b))
    assert(far.count(_ <= 3) === 0)
  }

  test("exact verify: twins inside threshold, distinct clips far outside") {
    val corpus = AudioDedup.withPlantedTwins(docsDF(0L to 40L))
    val prints = AudioDedup.prints(corpus)
    val env = MediaReference.printsOf(prints).map { case (id, (fr, _, _)) => id -> fr }
    // the pair's exact mean-abs envelope distance (e2)
    def dist(a: Long, b: Long): Long =
      env(a).zip(env(b)).map { case (x, y) => math.abs(x - y).toLong }.sum * 100L /
        AudioDedup.EnvBins
    val pairs = AudioDedup.nearDupPairs(prints).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> dist(r.getLong(0), r.getLong(1))).toMap
    Seq(0L, 20L, 40L).foreach { src =>
      val d = pairs.get((src, src + 1000000L))
      assert(d.isDefined && d.get <= AudioDedup.DefaultMaxMeanDiffE2,
        s"twin pair of $src missing or far: $d")
    }
    // no distinct-source pair survives the exact verify
    assert(pairs.keys.forall { case (a, b) => b - a == 1000000L })
  }

  test("verdict: twins dropped with their source as witness; exact families collapse") {
    import spark.implicits._
    val base = AudioDedup.withPlantedTwins(docsDF(0L to 99L))
    // exact copy of clip 7 under id 777 → family member, must drop
    // with witness 7 without any pair verify
    val corpus = base.unionByName(
      Seq((777L, Multimodal.plantWav(7L))).toDF("doc_id", "media"))
    val res = AudioDedup.dedup(corpus)
    try {
      val rows = res.collect().map(r =>
        r.getLong(0) -> ((Option(r.getAs[java.lang.Long]("match_id"))
          .map(_.toLong), r.getBoolean(2)))).toMap
      Seq(0L, 20L, 40L, 60L, 80L).foreach { src =>
        assert(rows(src + 1000000L) === ((Some(src), false)), s"twin of $src")
        assert(rows(src) === ((None, true)), s"source $src dropped")
      }
      assert(rows(777L) === ((Some(7L), false)))
      assert(rows(7L) === ((None, true)))
    } finally res.unpersist(blocking = false)
  }

  test("undecodable media is kept; envelope is deterministic") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Multimodal.plantWav(1L)),
      (2L, "junk bytes".getBytes("UTF-8"))).toDF("doc_id", "media")
    val res = AudioDedup.dedup(corpus)
    try {
      val rows = res.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(rows === Map(1L -> true, 2L -> true))
    } finally res.unpersist(blocking = false)
    val Some((_, ch, samples)) = Multimodal.decodeWav(Multimodal.plantWav(5L))
    val e1 = AudioDedup.envelope(ch, samples)
    val e2 = AudioDedup.envelope(ch, samples)
    assert(e1.toSeq == e2.toSeq && e1.length == AudioDedup.EnvBins)
    assert(e1.forall(v => v >= 0 && v <= 32768))
  }

  test("audio kernel is bit-identical to the reference printRow and bucket entries") {
    import spark.implicits._
    val corpus = AudioDedup.withPlantedTwins(docsDF(0L to 60L))
      .unionByName(Seq((7000L, "junk".getBytes("UTF-8")), (7001L, null: Array[Byte]))
        .toDF("doc_id", "media"))
    val ref = corpus.as[(Long, Array[Byte])].collect().flatMap { case (id, b) =>
      Option(b).flatMap(MediaReference.printRow).map(id -> _) }.toMap
    val refKeys = MediaReference.keysOf(MediaReference.bucketEntries(
      ref.toSeq.map { case (id, (_, bits, a, b, _)) => (id, bits, a, b) }
        .toDF("doc_id", "hash", "gA", "gB")))
    val got = MediaReference.printsOf(AudioDedup.prints(corpus))
    assert(got.keySet == ref.keySet && ref.size == corpus.count() - 2, "prints must drop exactly the junk and null rows")
    ref.foreach { case (id, (env, _, _, _, es)) =>
      val (fr, sm, keys) = got(id)
      assert(fr == env && sm == Seq(es), s"fr/sm diverge for doc $id")
      assert(keys == refKeys(id) && keys.size == 8, s"bucket keys diverge for doc $id")
    }
  }
}
