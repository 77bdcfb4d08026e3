package graft.operators

import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}

/** Drift manifest + refit valve — the trigger half of the stored-ANN
  * lifecycle (build → append/delete → compact → REFIT):
  *
  *  - the 1-row manifest tracks exactly how many rows were built,
  *    appended, and deleted (idempotent under delete replays);
  *  - [[AnnIndex.needsRefit]] flips at the documented drift fraction
  *    — pure arithmetic, no corpus scan;
  *  - [[AnnIndex.refitIvfq]] serves IDENTICALLY to a fresh build on
  *    the same live corpus (it IS the build, staged and swapped),
  *    folds drift back to zero, and drops stale tombstones.
  */
class RefitValveSpec extends SparkTestBase {

  private def clustered(nClusters: Int, perCluster: Int, dim: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian() * 5))
    (for (c <- 0 until nClusters; i <- 0 until perCluster) yield {
      val id = (c * perCluster + i).toLong
      (id, centers(c).map(v => (v + rnd.nextGaussian()).toFloat).toSeq)
    }).toDF("vec_id", "embedding")
  }

  private def withTempDir(f: String => Unit): Unit =
    Materialize.withTempDir("refit_valve")(f)

  test("manifest tracks build/append/delete exactly; needsRefit flips at the bound") {
    val emb = clustered(4, 30, 16, seed = 3)
    val old = emb.filter(col("vec_id") < 100)   // 100 rows
    val batch = emb.filter(col("vec_id") >= 100) // 20 rows
    withTempDir { dir =>
      AnnIndex.buildIvfqIndex(old, dir, nlist = 4, seed = 11L,
        initMode = "random", maxIter = 2)
      assert(!AnnIndex.needsRefit(spark, dir),
        "fresh build reports drift")
      AnnIndex.appendIvfq(batch, dir)
      // drift = (20 + 0) / 120 = 0.167
      assert(!AnnIndex.needsRefit(spark, dir, maxDrift = 0.25))
      assert(AnnIndex.needsRefit(spark, dir, maxDrift = 0.15))
      import spark.implicits._
      AnnIndex.deleteVectors(Seq(5L, 6L, 7L, 8L, 9L).toDF("vec_id"), dir)
      // replayed delete of the same ids: manifest must NOT double-count
      AnnIndex.deleteVectors(Seq(5L, 6L, 7L).toDF("vec_id"), dir)
      // drift = (20 + 5) / 115 = 0.217
      assert(!AnnIndex.needsRefit(spark, dir, maxDrift = 0.25))
      assert(AnnIndex.needsRefit(spark, dir, maxDrift = 0.20))
      val m = AnnIndex.manifestCounts(spark, dir).get
      assert(m._1 == 100)
      assert(m._2 == 20)
      assert(m._3 == 5)
    }
  }

  test("refit serves identically to a fresh build, zeroes drift, drops tombstones") {
    val emb = clustered(4, 30, 16, seed = 13)
    val old = emb.filter(col("vec_id") % 5 =!= 2)
    val batch = emb.filter(col("vec_id") % 5 === 2)
    val deleted = emb.filter(col("vec_id") % 10 === 1)
    val live = emb.join(deleted.select("vec_id"), Seq("vec_id"), "left_anti")
    val queries = emb.filter(col("vec_id").isin(5L, 35L, 65L, 95L))
    withTempDir { dir =>
      withTempDir { freshDir =>
        AnnIndex.buildIvfqIndex(old, dir, nlist = 4, seed = 11L)
        AnnIndex.appendIvfq(batch, dir)
        AnnIndex.deleteVectors(deleted.select("vec_id"), dir)
        assert(AnnIndex.needsRefit(spark, dir, maxDrift = 0.25))

        AnnIndex.refitIvfq(live, dir, nlist = 4, seed = 11L)
        AnnIndex.buildIvfqIndex(live, freshDir, nlist = 4, seed = 11L)

        def serve(d: String) = AnnIndex.ivfqTopKFromPath(spark, d, live,
          queries, k = 3, nProbe = 2, rerank = 4).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .sortBy(t => (t._1, t._2)).toList
        val refitted = serve(dir)
        assert(refitted.nonEmpty)
        assert(refitted == serve(freshDir),
          "refit index serves differently from a fresh build on the live corpus")
        assert(!AnnIndex.needsRefit(spark, dir),
          "drift survived the refit")
        assert(!new java.io.File(s"$dir/deletes").exists(),
          "stale tombstones survived the refit")
        assert(!new java.io.File(s"$dir._refit_tmp").exists(),
          "refit staging dir leaked")
      }
    }
  }

  test("refit cutover is one atomic version commit; readers never see mixed parts") {
    val emb = clustered(4, 30, 16, seed = 23)
    val queries = emb.filter(col("vec_id").isin(5L, 35L, 65L, 95L))
    def serve(d: String) = AnnIndex.ivfqTopKFromPath(spark, d, emb,
      queries, k = 3, nProbe = 2, rerank = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toList
    withTempDir { dir =>
      AnnIndex.buildIvfqIndex(emb, dir, nlist = 4, seed = 11L)
      val before = serve(dir)

      // a CRASHED refit: the staging dir exists but was never
      // committed. Readers must resolve the old root, untouched —
      // the staging name is not a version root.
      val tmp = new java.io.File(s"$dir._refit_tmp")
      tmp.mkdirs()
      new java.io.File(tmp, "junk").createNewFile()
      assert(serve(dir) == before,
        "an uncommitted staging dir changed served results")

      // the refit commits as ONE rename to dir/v_1 and cleans the
      // crashed staging dir; the flat parts are GC'd post-commit
      AnnIndex.refitIvfq(emb, dir, nlist = 4, seed = 11L)
      assert(new java.io.File(s"$dir/v_1/vectors").isDirectory,
        "refit did not commit a version root")
      assert(new java.io.File(s"$dir/v_1/centroids").exists(),
        "version root missing its centroid sidecar — mixed-parts risk")
      assert(!new java.io.File(s"$dir/vectors").exists(),
        "superseded flat vectors survived GC")
      assert(!tmp.exists(), "crashed staging dir not cleaned by refit")
      assert(serve(dir) == before,
        "refit on the same corpus changed served results")

      // maintenance ops follow the resolved root: append + delete +
      // purge against the refitted index land inside v_1
      import spark.implicits._
      val extra = clustered(1, 5, 16, seed = 91)
        .withColumn("vec_id", col("vec_id") + 1000L)
      AnnIndex.appendIvfq(extra, dir)
      AnnIndex.deleteVectors(Seq(1000L).toDF("vec_id"), dir)
      assert(new java.io.File(s"$dir/v_1/deletes").exists(),
        "delete wrote outside the committed version root")
      val m = AnnIndex.manifestCounts(spark, s"$dir/v_1").get
      assert(m._2 == 5 && m._3 == 1)
      AnnIndex.purgeIvfqDeletes(spark, dir)
      assert(!new java.io.File(s"$dir/v_1/deletes").exists())
      assert(serve(dir).forall(_._3 != 1000L))

      // a second refit commits v_2 and GCs v_1
      AnnIndex.refitIvfq(emb.unionByName(extra)
        .join(Seq(1000L).toDF("vec_id"), Seq("vec_id"), "left_anti"),
        dir, nlist = 4, seed = 11L)
      assert(new java.io.File(s"$dir/v_2/vectors").isDirectory)
      assert(!new java.io.File(s"$dir/v_1").exists(),
        "superseded version root survived GC")

      // a fresh BUILD supersedes every version root
      AnnIndex.buildIvfqIndex(emb, dir, nlist = 4, seed = 11L)
      assert(!new java.io.File(s"$dir/v_2").exists(),
        "a rebuild left a higher version shadowing it")
      assert(serve(dir) == before)
    }
  }
}
