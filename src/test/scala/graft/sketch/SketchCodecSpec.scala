package graft.sketch

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** §2.4 semantics: quantize→sketch→decode roundtrip error bounds,
  * ZeroGradient identity, compression ratio (FIXTURES.md §B.3).
  * Property tests sample scalacheck generators directly (no
  * scalatestplus bridge in the offline cache). */
class SketchCodecSpec extends AnyFunSuite {

  /** Minimal forAll: sample the generator N times with fixed seeds. */
  private def forAll[A](gen: Gen[A], n: Int = 30)(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(org.scalacheck.Gen.Parameters.default, Seed(i.toLong))
        .foreach(check)
    }

  private val codec = new SketchCodec()

  test("zero gradient roundtrips to zeros via 5-byte marker") {
    val dense = new Array[Double](1000)
    val bytes = codec.encode(dense)
    assert(bytes.length <= 8)
    assert(codec.decode(bytes).toSeq == dense.toSeq)
  }

  test("identity codec is lossless") {
    val rnd = new scala.util.Random(7)
    val dense = Array.fill(500)(rnd.nextGaussian())
    assert(IdentityCodec.decode(IdentityCodec.encode(dense)).toSeq == dense.toSeq)
  }

  test("sparse gradient: decoded support ⊆ encoded support, zeros preserved") {
    val rnd = new scala.util.Random(11)
    val dense = new Array[Double](10000)
    (0 until 300).foreach(_ => dense(rnd.nextInt(10000)) = rnd.nextGaussian())
    val dec = codec.decode(codec.encode(dense))
    dense.indices.foreach { i =>
      if (dense(i) == 0.0) assert(dec(i) == 0.0, s"zero at $i became ${dec(i)}")
    }
  }

  test("roundtrip relative error is bounded (quantile bins)") {
    val rnd = new scala.util.Random(13)
    val dense = Array.fill(5000)(rnd.nextGaussian() * 10)
    val dec = codec.decode(codec.encode(dense))
    // bin-representative error: value is replaced by its bin mean;
    // with 256 quantile bins over 5000 gaussians the L2 relative
    // error stays small even with sketch collisions biasing bins
    val num = math.sqrt(dense.indices.map(i => math.pow(dense(i) - dec(i), 2)).sum)
    val den = math.sqrt(dense.map(v => v * v).sum)
    // measured ≈0.37 at rowNum=3/colRatio=0.5 (collision-dominated;
    // quantization alone is ~1%). The real acceptance is SGD A/B
    // parity in SgdSpec — this bound just pins the codec's regime.
    assert(num / den < 0.5, s"relative L2 error ${num / den}")
  }

  test("compression ratio beats raw doubles on large sparse gradients") {
    val rnd = new scala.util.Random(17)
    val dense = Array.fill(50000)(rnd.nextGaussian())
    val sketchBytes = codec.encode(dense).length
    val rawBytes = IdentityCodec.encode(dense).length
    assert(rawBytes.toDouble / sketchBytes > 2.0,
      s"ratio ${rawBytes.toDouble / sketchBytes}")
  }

  test("minmax sketch: query returns an inserted offset ≥ the key's own") {
    val sk = new MinMaxSketch(2, 16)
    val keys = (0 until 40).map(_ * 7)
    keys.zipWithIndex.foreach { case (k, i) => sk.insert(k, i % 100) }
    keys.zipWithIndex.foreach { case (k, i) =>
      assert(sk.query(k) >= i % 100, s"key $k under-estimated")
    }
  }

  test("property: decode support matches nonzero support for any gradient") {
    forAll(Gen.listOfN(200, Gen.chooseNum(-100.0, 100.0))) { vs =>
      val dense = vs.toArray
      val dec = codec.decode(codec.encode(dense))
      assert(dec.length == dense.length)
      dense.indices.foreach { i =>
        if (math.abs(dense(i)) <= 1e-10) assert(dec(i) == 0.0)
      }
    }
  }

  test("property: summed decoded gradients approximate summed originals") {
    val rnd = new scala.util.Random(23)
    val a = Array.fill(2000)(rnd.nextGaussian())
    val b = Array.fill(2000)(rnd.nextGaussian())
    val da = codec.decode(codec.encode(a))
    val db = codec.decode(codec.encode(b))
    val err = a.indices.map(i => math.abs((da(i) + db(i)) - (a(i) + b(i)))).max
    // error compounds additively across partials (SURVEY §7 risk 3);
    // worst-case per-element error is a within-group bin jump
    assert(err < 6.0, s"sum error $err")
  }

  /** A sparse gradient at `dim`: ascending keys, some values under eps. */
  private def sparseGradient(dim: Int, nnz: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val keys = Array.fill(nnz)(rnd.nextInt(dim)).distinct.sorted
    val vals = keys.map(_ => if (rnd.nextInt(10) == 0) 1e-12 else rnd.nextGaussian())
    val dense = new Array[Double](dim)
    keys.indices.foreach(k => dense(keys(k)) = vals(k))
    (keys, vals, dense)
  }

  test("encodeSparse on ascending keys is byte-identical to encode on the dense array") {
    for ((dim, nnz, seed) <- Seq((10000, 300, 1), (1 << 20, 5000, 2), (50, 50, 3))) {
      val (keys, vals, dense) = sparseGradient(dim, nnz, seed)
      assert(codec.encodeSparse(dim, keys.length, keys, vals).sameElements(codec.encode(dense)),
        s"dim $dim: sparse and dense frames differ")
      // longer scratch arrays: only the first nnz entries count
      val padded = codec.encodeSparse(dim, keys.length, keys :+ (dim + 7), vals :+ 1.0)
      assert(padded.sameElements(codec.encode(dense)), s"dim $dim: padded arrays leaked in")
    }
    assert(codec.encodeSparse(100, 0, Array.emptyIntArray, Array.emptyDoubleArray)
      .sameElements(codec.encode(new Array[Double](100))))
  }

  test("encodeSparse rejects keys that are not strictly ascending") {
    for (c <- Seq(codec, IdentityCodec); keys <- Seq(Array(3, 1), Array(2, 2))) {
      val err = intercept[IllegalArgumentException](c.encodeSparse(10, 2, keys, Array(1.0, 2.0)))
      assert(err.getMessage.contains("ascending"), err.getMessage)
    }
  }

  test("decodeSparse returns keys in ascending order for both codecs") {
    val (keys, vals, dense) = sparseGradient(1 << 16, 4000, 4)
    val codecs = Seq(codec, new SketchCodec(groupNum = 8), IdentityCodec)
    for (c <- codecs; frame <- Seq(c.encode(dense), c.encodeSparse(dense.length, keys.length, keys, vals))) {
      val sg = c.decodeSparse(frame)
      assert(sg.dim == dense.length)
      assert(sg.keys.nonEmpty && sg.keys.sliding(2).forall(p => p(0) < p(1)),
        s"${c.name}: decoded keys out of order")
      // the sparse view holds the dense decode's nonzeros, key for key
      val full = c.decode(frame)
      sg.keys.indices.foreach(k => assert(full(sg.keys(k)) == sg.vals(k)))
      assert(full.count(_ != 0.0) == sg.vals.count(_ != 0.0))
    }
  }
}
