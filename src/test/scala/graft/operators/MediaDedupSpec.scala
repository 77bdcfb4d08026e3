package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The engine's verify on a single frame equals the pre-engine image
  * and audio test — the codegen'd channel-sum pre-filter
  * |Δsum_c| ≤ ⌊(m+1)·cells/100⌋ on every channel, then the mean
  * absolute difference ⌊Σ|Δ|·100/cells⌋ ≤ m — on seeded 216-cell
  * (3-channel) and 65-cell (1-channel) pairs placed around the boundary
  * Σ|Δ|·100/cells == m, for every containment share 1..100; and its
  * multi-frame containment equals the pre-engine video verify
  * ([[MediaReference.sumGate]], [[MediaReference.pairContainment]]).
  * Pure JVM. */
class MediaDedupSpec extends AnyFunSuite {

  /** An engine with the image or audio geometry and a chosen share. */
  private def engine(cells: Int, channels: Int, pct: Int): MediaDedup = {
    val (c, ch) = (cells, channels)
    new MediaDedup {
      val Cells = c
      val Channels = ch
      val DefaultMaxMeanDiffE2 = 600L
      val MinContainPct = pct
      def frames(bytes: Array[Byte]): Seq[MediaDedup.Frame] = Nil
    }
  }

  /** A random frame and a partner ([[nearCopy]]). */
  private def pairAround(rnd: scala.util.Random, cells: Int, maxV: Int,
                         m: Long): (Array[Int], Array[Int]) = {
    val a = Array.fill(cells)(rnd.nextInt(maxV + 1))
    (a, nearCopy(rnd, a, maxV, m))
  }

  /** A copy of `a` whose Σ|Δ| sits within ±3 of the boundary
    * m·cells/100, spread over random cells in random directions (no
    * cell leaves [0, maxV]). */
  private def nearCopy(rnd: scala.util.Random, a: Array[Int], maxV: Int,
                       m: Long): Array[Int] = {
    val cells = a.length
    val b = a.clone()
    var left = math.max(0L, m * cells / 100 + rnd.nextInt(7) - 3)
    for (i <- rnd.shuffle((0 until cells).toList) if left > 0) {
      val up = rnd.nextBoolean()
      val room = if (up) maxV - a(i) else a(i)
      val d = math.min(left, rnd.nextInt(room + 1).toLong).toInt
      b(i) = if (up) a(i) + d else a(i) - d
      left -= d
    }
    b
  }

  /** The pre-engine single-frame test. */
  private def oldTest(a: Array[Int], b: Array[Int], channels: Int, m: Long): Boolean = {
    val cells = a.length
    val msd = (m + 1) * cells / 100
    val pre = (0 until channels).forall { c =>
      val idx = (c until cells by channels)
      math.abs(idx.map(a(_).toLong).sum - idx.map(b(_).toLong).sum) <= msd
    }
    val s = a.indices.map(i => math.abs(a(i) - b(i)).toLong).sum
    pre && s * 100L / cells <= m
  }

  private def sums(f: Array[Int], channels: Int): Array[Long] =
    Array.tabulate(channels)(c => (c until f.length by channels).map(f(_).toLong).sum)

  test("single-frame containment equals the old mean-abs-diff test at the boundary") {
    val rnd = new scala.util.Random(17)
    for ((cells, channels, maxV, mMax) <- Seq((216, 3, 255, 1500L), (65, 1, 32767, 100000L))) {
      var atBoundary = 0
      var passed = 0
      (0 until 2000).foreach { i =>
        val m = (rnd.nextDouble() * mMax).toLong
        val (a, b) = pairAround(rnd, cells, maxV, m)
        val s = a.indices.map(i => math.abs(a(i) - b(i)).toLong).sum
        if (s * 100 / cells == m) atBoundary += 1
        val want = oldTest(a, b, channels, m)
        if (want) passed += 1
        val e = engine(cells, channels, 1 + rnd.nextInt(100))
        val got = e.sumsContained(sums(a, channels), sums(b, channels), e.maxSumDiff(m)) &&
          e.framesContained(a, b, m)
        assert(got == want, s"cells=$cells pair $i (m=$m, Σ|Δ|=$s, share ${e.MinContainPct})")
      }
      // the seeds really straddle the boundary on both sides
      assert(atBoundary > 50 && passed > 100 && passed < 1900,
        s"cells=$cells: $atBoundary at the boundary, $passed pass")
    }
  }

  test("multi-frame containment equals the old video sum gate and pairContainment") {
    val rnd = new scala.util.Random(23)
    val m = 600L
    val cells = 216
    var (gatePass, verifyPass, partial) = (0, 0, 0)
    for (pct <- 1 to 100; _ <- 0 until 12) {
      val na = 1 + rnd.nextInt(8)
      val nb = 1 + rnd.nextInt(8)
      val fa = Array.fill(na)(Array.fill(cells)(rnd.nextInt(256)))
      // each frame of b: a near copy of a random frame of a (Σ|Δ|
      // around the boundary), or a fresh random frame
      val fb = Array.fill(nb) {
        if (rnd.nextInt(3) > 0) nearCopy(rnd, fa(rnd.nextInt(na)), 255, m)
        else Array.fill(cells)(rnd.nextInt(256))
      }
      val (a, b) = (fa.flatten, fb.flatten)
      val (sa, sb) = (fa.flatMap(sums(_, 3)), fb.flatMap(sums(_, 3)))
      val e = engine(cells, 3, pct)
      val msd = e.maxSumDiff(m)
      val wantGate = MediaReference.sumGate(sa, sb, msd, pct)
      val (nB, matched) = MediaReference.pairContainment(a, b, m)
      val wantVerify = nB > 0 && matched * 100 >= nB * pct
      assert(e.sumsContained(sa, sb, msd) == wantGate, s"gate: na=$na nb=$nb share $pct")
      assert(e.framesContained(a, b, m) == wantVerify, s"verify: na=$na nb=$nb share $pct")
      if (wantGate) gatePass += 1
      if (wantVerify) verifyPass += 1
      if (matched > 0 && matched < nB) partial += 1
    }
    // the seeds exercise both outcomes and partial containment
    assert(verifyPass > 100 && verifyPass < 1100 && gatePass > verifyPass && partial > 100,
      s"$gatePass gate, $verifyPass verify, $partial partial of 1200")
  }

  test("the shipped image and audio geometries are the old ones") {
    assert(ImageDedup.Cells == 216 && ImageDedup.Channels == 3 &&
      ImageDedup.maxSumDiff(600L) == 601L * 216 / 100)
    assert(AudioDedup.Cells == 65 && AudioDedup.Channels == 1 &&
      AudioDedup.maxSumDiff(60000L) == 60001L * 65 / 100)
    assert(VideoDedup.Cells == 216 && VideoDedup.Channels == 3 && VideoDedup.MinContainPct == 70)
  }
}
