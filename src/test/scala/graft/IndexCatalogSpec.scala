package graft

import org.apache.spark.sql.functions._

import graft.operators.AnnIndex

/** Cross-session index persistence ([[IndexCatalog]]): a deployment
  * KEEPS its index — build it once under a params+vintage manifest,
  * reopen it from a session with no shared state and serve
  * bit-identically; any params drift rebuilds instead of serving a
  * stale index. The catalog itself holds NO in-memory state (every
  * decision is a filesystem read), so "fresh SparkSession" below is
  * exactly the fresh-JVM case — there is nothing else to carry. */
class IndexCatalogSpec extends SparkTestBase {

  private def clustered(n: Int, dim: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian() * 5))
    (0 until n).map { i =>
      (i.toLong, centers(i % 4).map(v => (v + rnd.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("build once, reopen from a fresh session, serve bit-identically; drift rebuilds") {
    val emb = clustered(120, 16, seed = 73)
    val queries = emb.filter(col("vec_id") % 30 === 0)
    Materialize.withTempDir("graft_catalog") { root =>
      val params = Map("family" -> "ivfq", "nlist" -> "4", "seed" -> "11",
        "corpus_rows" -> "120")
      var builds = 0
      def open(s: org.apache.spark.sql.SparkSession,
               p: Map[String, String]) =
        IndexCatalog.openOrBuild(s, root, "emb_ivfq", p) { dir =>
          builds += 1
          AnnIndex.buildIvfqIndex(emb, dir, nlist = p("nlist").toInt,
            seed = p("seed").toLong)
        }
      def serve(s: org.apache.spark.sql.SparkSession, d: String) =
        AnnIndex.ivfqTopKFromPath(s, d, emb, queries, k = 3, nProbe = 2,
          rerank = 4).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .sortBy(t => (t._1, t._2)).toList
      // session 1: first open builds and stamps the manifest
      val (dir1, reused1) = open(spark, params)
      assert(!reused1 && builds == 1)
      val served1 = serve(spark, dir1)
      assert(served1.nonEmpty)

      // "next day": a session with no shared session state reopens
      // WITHOUT rebuilding and serves the same bytes
      val fresh = spark.newSession()
      val (dir2, reused2) = open(fresh, params)
      assert(reused2 && builds == 1,
        "matching params re-built instead of reopening")
      assert(dir2 == dir1)
      assert(serve(fresh, dir2) == served1,
        "reopened index served different results")

      // params drift (a different nlist) must NOT serve the stale
      // index — rebuild under the new params
      val (dir3, reused3) = open(spark, params + ("nlist" -> "8"))
      assert(!reused3 && builds == 2, "params drift reopened a stale index")
      assert(graft.operators.AnnIndex.readCentroids(spark, dir3).length == 8)
      // and the new manifest now validates for the NEW params only
      assert(open(spark, params + ("nlist" -> "8"))._2 && builds == 2)
      assert(!open(spark, params)._2 && builds == 3)

      // a vintage bump (same build params, new corpus stamp) rebuilds
      assert(!open(spark, params + ("corpus_rows" -> "121"))._2 && builds == 4)

      // an interrupted commit (manifest gone) can never validate
      Materialize.deleteTree(s"$dir1/_graft_manifest")
      assert(!open(spark, params)._2 && builds == 5)

      // a crashed-build staging dir is cleaned up, not built upon
      val staging = new java.io.File(s"$root/._staging_emb_ivfq")
      staging.mkdirs()
      new java.io.File(staging, "junk").createNewFile()
      val (dir6, reused6) = open(spark, params + ("seed" -> "12"))
      assert(!reused6 && builds == 6)
      assert(!new java.io.File(s"$dir6/junk").exists(),
        "crashed staging leftovers survived into the committed index")
    }
  }

  test("a crash between the commit renames loses no index") {
    // the commit is live→._old_<name>, staging→live, drop ._old —
    // simulate dying between the two renames (live ABSENT, the new
    // build complete in staging, the previous index set aside) and
    // prove the next call finishes the commit instead of rebuilding
    // or, worse, clearing the only surviving copies
    val emb = clustered(80, 8, seed = 5)
    Materialize.withTempDir("graft_catalog_crash") { root =>
      val params = Map("family" -> "ivfq", "nlist" -> "4", "seed" -> "3")
      var builds = 0
      def open(p: Map[String, String], mayBuild: Boolean = true) =
        IndexCatalog.openOrBuild(spark, root, "idx", p) { dir =>
          assert(mayBuild, "rebuild fired where recovery should serve")
          builds += 1
          AnnIndex.buildIvfqIndex(emb, dir, nlist = p("nlist").toInt,
            seed = p("seed").toLong)
        }
      val (live, _) = open(params)
      assert(builds == 1)

      // CASE 1: interrupted commit — live moved aside, staging holds
      // a complete (manifest-stamped) build for the same params
      val liveF = new java.io.File(live)
      val oldF = new java.io.File(s"$root/._old_idx")
      val stagingF = new java.io.File(s"$root/._staging_idx")
      // fabricate the window: the "old" copy is the previous index,
      // the "staging" copy is the completed new build = current live
      assert(liveF.renameTo(stagingF))
      oldF.mkdirs()
      new java.io.File(oldF, "stale_marker").createNewFile()
      val (dir2, reused2) = open(params, mayBuild = false)
      assert(dir2 == live && !reused2,
        "finishing an interrupted commit must report a fresh serve")
      assert(liveF.isDirectory, "live dir absent after recovery")
      assert(!stagingF.exists() && !oldF.exists(),
        "commit leftovers survived recovery")
      assert(open(params)._2 && builds == 1,
        "recovered index failed to validate")

      // CASE 2: crash after set-aside but BEFORE the staged build
      // matched (params drifted meanwhile): the set-aside old index
      // is restored and revalidates for ITS params without a rebuild
      assert(liveF.renameTo(oldF))
      val (dir3, reused3) = open(params, mayBuild = false)
      assert(dir3 == live && reused3,
        "restored set-aside index should have validated")
      assert(liveF.isDirectory && !oldF.exists())
    }
  }
}
