package graft

import org.apache.spark.sql.functions._

import graft.operators.AnnIndex

/** The memo's isolation contract: gate keys share ONE base build per
  * session, so a key that mutates its clone must leave the shared
  * base — and every other consumer — bit-for-bit untouched. */
class IndexMemoSpec extends SparkTestBase {

  private def vecs(n: Int, dim: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
  }

  private def fileStamps(path: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(path)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length()).toMap
  }

  test("mutating a clone leaves the shared base and sibling clones untouched") {
    import spark.implicits._
    val emb = vecs(80, 16, seed = 71)
    var builds = 0
    val key = "memo_spec_ivfq_" + System.nanoTime() // session-unique
    def base(): String = IndexMemo.dir(key) { d =>
      builds += 1
      AnnIndex.buildIvfqIndex(emb, d, nlist = 4, seed = 11L,
        initMode = "random", maxIter = 2)
    }
    val baseDir = base()
    assert(builds == 1)
    assert(base() == baseDir, "memo returned a different dir on re-ask")
    assert(builds == 1, "memo re-ran the build for the same key")

    val baseStamps = fileStamps(baseDir)
    Materialize.withTempDir("memo_clone_a") { cloneA =>
      Materialize.withTempDir("memo_clone_b") { cloneB =>
        IndexMemo.copyTree(base(), cloneA)
        IndexMemo.copyTree(base(), cloneB)
        // mutate clone A hard: delete a slice, purge it physically
        AnnIndex.deleteVectors(
          emb.filter(col("vec_id") % 4 === 1).select("vec_id"), cloneA)
        AnnIndex.purgeIvfqDeletes(spark, cloneA)
        // the base and the sibling clone are bit-for-bit what they were
        assert(fileStamps(baseDir) == baseStamps,
          "mutating a clone changed the shared base")
        assert(fileStamps(cloneB) == baseStamps.map { case (p, l) =>
          p.replace(baseDir, cloneB) -> l },
          "mutating a clone changed a sibling clone")
        // and the clone really did change
        assert(fileStamps(cloneA) != baseStamps.map { case (p, l) =>
          p.replace(baseDir, cloneA) -> l })
      }
    }
  }
}
