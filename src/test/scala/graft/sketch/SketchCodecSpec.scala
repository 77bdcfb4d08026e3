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

  /** One seeded gradient of a kind the kernel's sort, sweep and frame
    * writer must all agree with the reference on. */
  private def pinGradient(kind: String, seed: Int): (Int, Array[Int], Array[Double]) = {
    val rnd = new scala.util.Random(seed)
    def keysOf(dim: Int, nnz: Int) = {
      val set = new java.util.BitSet(dim)
      var n = 0
      while (n < nnz) { val i = rnd.nextInt(dim); if (!set.get(i)) { set.set(i); n += 1 } }
      set.stream().toArray
    }
    val eps = 1e-10
    kind match {
      case "ties" => // five distinct values, so every edge is a tie
        val keys = keysOf(50000, 20000)
        (50000, keys, keys.map(_ => Array(-1.0, -0.5, 0.5, 1.0, 2.0)(rnd.nextInt(5))))
      case "equal" =>
        val keys = keysOf(5000, 3000)
        (5000, keys, keys.map(_ => 0.75))
      case "eps" => // mixed signs around the eps filter's threshold
        val keys = keysOf(10000, 2000)
        (10000, keys, keys.map { _ =>
          val sign = if (rnd.nextBoolean()) 1.0 else -1.0
          rnd.nextInt(4) match {
            case 0 => sign * eps * 1.000001
            case 1 => sign * eps * 0.999999
            case 2 => sign * eps
            case _ => sign * rnd.nextDouble() * 3
          }
        })
      case "one" => (1000, Array(617), Array(-3.2))
      case "few" => // nnz < binNum
        val keys = keysOf(500, 100)
        (500, keys, keys.map(_ => rnd.nextGaussian()))
      case "many" => // nnz >> binNum, values over many magnitudes
        val keys = keysOf(1 << 18, 50000)
        (1 << 18, keys, keys.map(_ => rnd.nextGaussian() * math.exp(2 * rnd.nextGaussian())))
      case "zero" => (300, Array(3, 9), Array(0.0, eps / 2))
    }
  }

  test("frames and decodes are byte-identical to the stream-based reference codec") {
    val configs = Seq((256, 1), (256, 2), (256, 8), (64, 2), (512, 2))
    val kinds = Seq("ties", "equal", "eps", "one", "few", "many", "zero")
    for ((binNum, groupNum) <- configs; (kind, seed) <- kinds.zipWithIndex) {
      val codec = new SketchCodec(binNum = binNum, groupNum = groupNum)
      val ref = new StreamSketchReference(binNum, groupNum, codec.rowNum, codec.colRatio, codec.eps)
      val (dim, keys, vals) = pinGradient(kind, seed)
      val dense = new Array[Double](dim)
      keys.indices.foreach(k => dense(keys(k)) = vals(k))
      val at = s"$kind at binNum $binNum, groupNum $groupNum"
      val frame = ref.encode(dense)
      assert(codec.encode(dense).sameElements(frame), s"$at: encode")
      assert(codec.encodeSparse(dim, keys.length, keys, vals).sameElements(frame), s"$at: encodeSparse")
      assert(codec.encodeSparse(dim, keys.length, keys :+ (dim + 1), vals :+ 4.0).sameElements(frame),
        s"$at: encodeSparse with padded arrays")
      assert(java.util.Arrays.equals(codec.decode(frame), ref.decode(frame)), s"$at: decode")
      val (sg, rs) = (codec.decodeSparse(frame), ref.decodeSparse(frame))
      assert(sg.dim == rs.dim && sg.keys.sameElements(rs.keys) &&
        java.util.Arrays.equals(sg.vals, rs.vals), s"$at: decodeSparse")
    }
  }

  test("identity frames are byte-identical to the stream-based reference") {
    val (dim, keys, vals) = pinGradient("many", 9)
    val dense = new Array[Double](dim)
    keys.indices.foreach(k => dense(keys(k)) = vals(k))
    def written(write: java.io.DataOutputStream => Unit) = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      write(out); out.flush(); bos.toByteArray
    }
    val denseRef = written { out => out.writeInt(dim); dense.foreach(out.writeDouble) }
    val sparseRef = written { out =>
      out.writeInt(-1); out.writeInt(dim); out.writeInt(keys.length)
      keys.indices.foreach { k => out.writeInt(keys(k)); out.writeDouble(vals(k)) }
    }
    assert(IdentityCodec.encode(dense).sameElements(denseRef))
    assert(IdentityCodec.encodeSparse(dim, keys.length, keys :+ dim, vals :+ 1.0).sameElements(sparseRef))
    for (frame <- Seq(denseRef, sparseRef)) {
      assert(java.util.Arrays.equals(IdentityCodec.decode(frame), dense))
      val sg = IdentityCodec.decodeSparse(frame)
      assert(sg.dim == dim && sg.keys.sameElements(keys) && java.util.Arrays.equals(sg.vals, vals))
    }
  }

  /** `decode` and `decodeSparse` both fail on `frame` with an
    * IllegalArgumentException naming `codec` and an offset ≤ `limit`. */
  private def assertCorrupt(c: GradientCodec, codec: String, frame: Array[Byte], limit: Int): Unit =
    for ((how, read) <- Seq[(String, Array[Byte] => Any)](
        "decode" -> c.decode, "decodeSparse" -> c.decodeSparse)) {
      val err = intercept[IllegalArgumentException](read(frame))
      val at = """at byte (\d+) """.r.findFirstMatchIn(err.getMessage).map(_.group(1).toInt)
      assert(err.getMessage.contains(codec) && at.exists(_ <= limit),
        s"$how of ${frame.length} bytes: ${err.getMessage}")
    }

  test("a truncated or corrupt frame fails naming the codec and the byte offset") {
    // keys spread over 2^20: multi-byte varints, so a cut can fall
    // inside a key as well as inside a header field or a sketch table
    val (keys, vals, _) = sparseGradient(1 << 20, 100, 5)
    val dim = 1 << 20
    val frames = Seq(
      ("SketchCodec", codec, codec.encodeSparse(dim, keys.length, keys, vals)),
      ("SketchCodec", codec, codec.encode(new Array[Double](dim))),
      ("IdentityCodec", IdentityCodec, IdentityCodec.encode(Array.tabulate(40)(_ * 0.5))),
      ("IdentityCodec", IdentityCodec, IdentityCodec.encodeSparse(dim, keys.length, keys, vals)))
    for ((name, c, frame) <- frames; cut <- 0 until frame.length)
      assertCorrupt(c, name, java.util.Arrays.copyOf(frame, cut), cut)
    // fields that contradict the frame: marker, a dim (set to nnz)
    // below most keys, a sparse-frame flag the codec never writes
    val sketch = frames.head._3
    assertCorrupt(codec, "SketchCodec", sketch.updated(0, 7: Byte), 0)
    val smallDim = sketch.clone()
    val header = java.nio.ByteBuffer.wrap(smallDim)
    header.putInt(1, header.getInt(5))
    assertCorrupt(codec, "SketchCodec", smallDim, smallDim.length)
    val flagged = frames(3)._3.clone()
    java.nio.ByteBuffer.wrap(flagged).putInt(0, -5)
    assertCorrupt(IdentityCodec, "IdentityCodec", flagged, 0)
  }
}

/** The stream-based SketchCodec this repository shipped before the
  * sort-once kernel: a comparison sort of the values, a binary search
  * per value for its bin, and `DataOutputStream`/`DataInputStream`
  * frames, with its own copy of the MinMax sketch. Kept as the
  * byte-for-byte reference for [[SketchCodec]]'s frames and decodes. */
private final class StreamSketchReference(binNum: Int, groupNum: Int, rowNum: Int,
    colRatio: Double, eps: Double) {
  import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
  private val groupBins = binNum / groupNum

  private final class Sketch(rows: Int, cols: Int) {
    val table = new Array[Byte](rows * cols)
    private def cellOf(row: Int, key: Int) =
      row * cols + (MinMaxSketch.hash(key, row) % cols + cols) % cols
    def insert(key: Int, binOffset: Int): Unit = (0 until rows).foreach { r =>
      val c = cellOf(r, key)
      if ((binOffset & 0xff) > (table(c) & 0xff)) table(c) = binOffset.toByte
    }
    def query(key: Int): Int = (0 until rows).map(r => table(cellOf(r, key)) & 0xff).foldLeft(0xff)(math.min)
  }

  def encode(dense: Array[Double]): Array[Byte] = {
    val keys = dense.indices.filter(i => math.abs(dense(i)) > eps).toArray
    if (keys.isEmpty) {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeByte(0); out.writeInt(dense.length); out.flush(); bos.toByteArray
    } else encodeNonzeros(dense.length, keys, keys.map(dense))
  }

  private def encodeNonzeros(dim: Int, keys: Array[Int], vals: Array[Double]): Array[Byte] = {
    val nnz = keys.length
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val sorted = vals.clone(); java.util.Arrays.sort(sorted)
    val edges = Array.tabulate(binNum - 1)(b => sorted(((b + 1).toLong * nnz / binNum).toInt.min(nnz - 1)))
    val bins = new Array[Int](nnz)
    val repSum = new Array[Double](binNum)
    val repCnt = new Array[Long](binNum)
    for (k <- 0 until nnz) {
      val bin = binOf(edges, vals(k))
      bins(k) = bin; repSum(bin) += vals(k); repCnt(bin) += 1
    }
    out.writeByte(1)
    out.writeInt(dim); out.writeInt(nnz)
    out.writeInt(binNum); out.writeInt(groupNum); out.writeInt(rowNum)
    for (b <- 0 until binNum) out.writeDouble(if (repCnt(b) > 0) repSum(b) / repCnt(b) else 0.0)
    for (g <- 0 until groupNum) {
      val lo = g * groupBins
      val hi = lo + groupBins
      val cnt = bins.count(b => b >= lo && b < hi)
      out.writeInt(cnt)
      if (cnt > 0) {
        val cols = math.max(8, math.ceil(cnt * colRatio).toInt)
        out.writeInt(cols)
        val sk = new Sketch(rowNum, cols)
        var prev = 0
        for (k <- 0 until nnz if bins(k) >= lo && bins(k) < hi) {
          sk.insert(keys(k), bins(k) - lo)
          writeVarInt(out, keys(k) - prev)
          prev = keys(k)
        }
        out.write(sk.table)
      }
    }
    out.flush(); bos.toByteArray
  }

  /** Every group's (key, value) pairs, in frame order. */
  private def groups(bytes: Array[Byte]): (Int, Seq[Seq[(Int, Double)]]) = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    if (in.readByte() == 0) return (in.readInt(), Nil)
    val dim = in.readInt(); in.readInt()
    val bn = in.readInt(); val gn = in.readInt(); val rn = in.readInt()
    val gb = bn / gn
    val reps = Array.fill(bn)(in.readDouble())
    (dim, (0 until gn).map { g =>
      val cnt = in.readInt()
      if (cnt == 0) Nil
      else {
        val cols = in.readInt()
        val keys = (0 until cnt).scanLeft(0)((prev, _) => prev + readVarInt(in)).tail
        val sk = new Sketch(rn, cols)
        in.readFully(sk.table)
        keys.map(key => key -> reps(g * gb + math.min(sk.query(key), gb - 1)))
      }
    })
  }

  def decode(bytes: Array[Byte]): Array[Double] = {
    val (dim, gs) = groups(bytes)
    val dense = new Array[Double](dim)
    gs.flatten.foreach { case (key, v) => dense(key) = v }
    dense
  }

  def decodeSparse(bytes: Array[Byte]): SparseGrad = {
    val (dim, gs) = groups(bytes)
    val all = gs.flatten.sortBy(_._1)
    SparseGrad(dim, all.map(_._1).toArray, all.map(_._2).toArray)
  }

  /** index of the first edge ≥ v. */
  private def binOf(edges: Array[Double], v: Double): Int = {
    var lo = 0
    var hi = edges.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (edges(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def writeVarInt(out: DataOutputStream, value: Int): Unit = {
    var v = value
    while ((v & ~0x7f) != 0) { out.writeByte((v & 0x7f) | 0x80); v >>>= 7 }
    out.writeByte(v)
  }

  private def readVarInt(in: DataInputStream): Int = {
    var v = 0
    var shift = 0
    var b = in.readByte() & 0xff
    while ((b & 0x80) != 0) { v |= (b & 0x7f) << shift; shift += 7; b = in.readByte() & 0xff }
    v | (b << shift)
  }
}
