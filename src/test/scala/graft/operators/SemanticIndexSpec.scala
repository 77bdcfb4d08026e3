package graft.operators

import graft.{Materialize, SparkTestBase}
import org.apache.spark.sql.functions._

/** Stored semantic-dedup index: layout (cid-partitioned vectors +
  * two-level sidecar, flat fits stored as identity-fine), sidecar
  * round-trip, incremental admission soundness/recall against the
  * exact definition, and the IndexCatalog reuse contract. */
class SemanticIndexSpec extends SparkTestBase {

  // 3 well-separated direction clusters + noise dims, 60 vectors
  private def corpusDF = {
    import spark.implicits._
    (0 until 60).map { i =>
      val base = Array.fill(8)(0.0)
      base(i % 3) = 10.0
      base(3 + i % 5) = 1.0 + (i % 7) * 0.1
      (i.toLong, base.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("layout: cid partition dirs + sidecar round-trip, flat-as-hier") {
    Materialize.withTempDir("graft_sem_idx") { dir =>
      Dedup.buildSemanticIndex(corpusDF, nlist = 4, dir)
      val parts = new java.io.File(s"$dir/vectors").listFiles()
        .filter(_.getName.startsWith("cid=")).map(_.getName).sorted
      assert(parts.nonEmpty)
      val (coarse, fine) = Dedup.readSemanticCells(spark, dir)
      // flat fit stored as identity fine blocks: one fine per coarse,
      // equal to it
      assert(fine.length === coarse.length)
      assert(fine.forall(_.length === 1))
      coarse.zip(fine).foreach { case (c, blk) =>
        assert(c.toSeq === blk(0).toSeq)
      }
      // every corpus row assigned exactly once
      val n = spark.read.parquet(s"$dir/vectors").count()
      assert(n === 60L)
    }
  }

  test("admission: near-copies flagged with exact witness, far rows pass") {
    import spark.implicits._
    Materialize.withTempDir("graft_sem_idx") { dir =>
      val corpus = corpusDF
      Dedup.buildSemanticIndex(corpus, nlist = 4, dir)
      // batch: near-copy of vec 7 (tiny nudge), far vector
      val near = corpus.filter(col("vec_id") === 7L)
        .select(lit(100L).as("vec_id"),
          transform(col("embedding"), v => v + lit(0.001)).as("embedding"))
      val far = Seq((200L, Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 9.0)))
        .toDF("vec_id", "embedding")
      val res = Dedup.incrementalSemanticAdmission(
          near.unionByName(far), corpus, dir, threshold = 0.9)
        .collect().map(v => v.vec_id ->
          (v.status, v.match_id.getOrElse(-1L), v.keep)).toMap
      assert(res(100L)._1 === "near_dup")
      assert(res(100L)._3 === false)
      // witness is a genuine >0.9 cosine partner (cluster of vec 7)
      assert(res(100L)._2 >= 0L)
      assert(res(200L) === (("novel", -1L, true)))
    }
  }

  test("hier path builds and admits when nlist crosses the switch") {
    import spark.implicits._
    Materialize.withTempDir("graft_sem_idx") { dir =>
      // 600 vectors, nlist 300 >= HierNlist forces the two-level fit
      val corpus = (0 until 600).map { i =>
        val v = Array.tabulate(8)(j =>
          math.sin(i * 0.7 + j * 1.3) + (if (j == i % 8) 3.0 else 0.0))
        (i.toLong, v.toSeq)
      }.toDF("vec_id", "embedding")
      Dedup.buildSemanticIndex(corpus, nlist = 300, dir)
      val (coarse, fine) = Dedup.readSemanticCells(spark, dir)
      assert(coarse.length >= 2)
      assert(fine.map(_.length).sum >= coarse.length)
      val near = corpus.filter(col("vec_id") === 42L)
        .select(lit(9000L).as("vec_id"),
          transform(col("embedding"), v => v + lit(0.0005)).as("embedding"))
      val res = Dedup.incrementalSemanticAdmission(near, corpus, dir,
        threshold = 0.9).collect()
      assert(res.length === 1)
      assert(res(0).status === "near_dup")
    }
  }

  test("IndexCatalog reuse: vintage-matched reopen never rebuilds") {
    Materialize.withTempDir("graft_sem_idx") { root =>
      val corpus = corpusDF
      val params = Map("family" -> "semdedup", "nlist" -> "4", "n" -> "60")
      var builds = 0
      val (d1, r1) = graft.IndexCatalog.openOrBuild(spark, root, "t", params) {
        stg => builds += 1; Dedup.buildSemanticIndex(corpus, 4, stg)
      }
      val (d2, r2) = graft.IndexCatalog.openOrBuild(spark, root, "t", params) {
        _ => builds += 1
      }
      assert(builds === 1)
      assert(!r1 && r2 && d1 === d2)
      // vintage bump (corpus changed) → rebuild
      val (_, r3) = graft.IndexCatalog.openOrBuild(spark, root, "t",
        params + ("n" -> "61")) { stg =>
        builds += 1; Dedup.buildSemanticIndex(corpus, 4, stg)
      }
      assert(builds === 2 && !r3)
    }
  }
}
