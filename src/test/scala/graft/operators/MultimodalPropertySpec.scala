package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Totality properties for the per-row kernels that face arbitrary
  * bytes/strings in a decode or admission stage: one malformed input
  * must never kill a 100 TB job. Pure JVM — no SparkSession.
  * Generators are sampled directly with fixed seeds (same pattern as
  * SketchCodecSpec — no scalatestplus bridge in the offline cache). */
class MultimodalPropertySpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 100)(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen(Gen.Parameters.default, Seed(i.toLong)).foreach(check)
    }

  private val bytesGen =
    Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))

  test("parseImageHeader is total on arbitrary bytes and never mislabels") {
    forAll(bytesGen) { bytes =>
      val (fmt, w, h) = Multimodal.parseImageHeader(bytes)
      assert(Set("png", "jpeg", "corrupt", "unknown").contains(fmt))
      if (fmt == "png" || fmt == "jpeg") assert(w >= 0 && h >= 0)
      else assert(w == -1 && h == -1)
    }
  }

  test("plantHeader round-trips through the parser for any doc_id/payload") {
    forAll(Gen.zip(Gen.choose(0L, 1000000L), bytesGen)) { case (docId, payload) =>
      val bytes = Multimodal.plantHeader(docId, payload)
      val (fmt, w, h) = Multimodal.parseImageHeader(bytes)
      assert(fmt == (if (docId % 2 == 0) "png" else "jpeg"))
      assert(w == Multimodal.plantedWidth(docId))
      assert(h == Multimodal.plantedHeight(docId))
    }
  }

  test("decodePng is total on arbitrary bytes (None, never a throw)") {
    forAll(bytesGen) { bytes =>
      Multimodal.decodePng(bytes).foreach { case (w, h, px) =>
        assert(px.length == w * h * 3)
      }
    }
  }

  test("decodePng is total on corrupted valid PNGs (single byte flips)") {
    val base = Multimodal.plantPng(0L)
    forAll(Gen.zip(Gen.choose(0, base.length - 1), Gen.choose(1, 255)), 200) {
      case (pos, mask) =>
        val mutated = base.clone()
        mutated(pos) = (mutated(pos) ^ mask).toByte
        // must not throw; if it still decodes, the shape contract holds
        Multimodal.decodePng(mutated).foreach { case (w, h, px) =>
          assert(px.length == w * h * 3)
        }
    }
  }

  test("decodeJpeg is total on arbitrary bytes and corrupted valid JPEGs") {
    forAll(bytesGen) { bytes =>
      Multimodal.decodeJpeg(bytes).foreach { case (w, h, px) =>
        assert(px.length == w * h * 3)
      }
    }
    val base = Multimodal.plantJpeg(1L)
    forAll(Gen.zip(Gen.choose(0, base.length - 1), Gen.choose(1, 255)), 200) {
      case (pos, mask) =>
        val mutated = base.clone()
        mutated(pos) = (mutated(pos) ^ mask).toByte
        // must not throw; if it still decodes, the shape contract holds
        Multimodal.decodeJpeg(mutated).foreach { case (w, h, px) =>
          assert(px.length == w * h * 3)
        }
    }
  }

  test("MinHash kernel is total on arbitrary strings") {
    forAll(Gen.option(Gen.asciiPrintableStr)) { s =>
      val sh = MinHash.shingles(s.orNull)
      val sig = MinHash.signature(sh, numHashes = 32)
      val bands = MinHash.bandKeys(sig, numBands = 16, rowsPerBand = 2)
      if (sh.isEmpty) assert(sig.isEmpty && bands.isEmpty)
      else assert(sig.length == 32 && bands.length == 16)
    }
  }
}
