package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}
import graft.operators.AnnIndex

/** The maintenance valves IN the ingest loop
  * ([[StreamingAnnMaintain]]): a stream whose drift crosses the
  * refit bound mid-run must commit a refit BETWEEN micro-batches —
  * atomically, as a version root — and keep serving exactly the
  * fresh-build answers before, across, and after the cutover. */
class StreamingMaintenanceSpec extends SparkTestBase {

  private def clustered(nClusters: Int, perCluster: Int, dim: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian() * 5))
    (for (c <- 0 until nClusters; i <- 0 until perCluster) yield {
      val id = (c * perCluster + i).toLong
      (id, centers(c).map(v => (v + rnd.nextGaussian()).toFloat).toSeq)
    }).toDF("vec_id", "embedding")
  }

  test("in-stream refit commits between micro-batches with serve parity across the cutover") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = clustered(4, 40, 16, seed = 37)
    val base = emb.filter(col("vec_id") % 2 === 0)   // 80 rows built offline
    val arriving = emb.filter(col("vec_id") % 2 =!= 0) // 80 rows stream in
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
    val queries = emb.filter(col("vec_id").isin(4L, 44L, 84L, 124L))
    Materialize.withTempDir("maint_idx") { indexDir =>
      Materialize.withTempDir("maint_corpus") { corpusRoot =>
        Materialize.withTempDir("maint_fresh") { freshDir =>
          val corpusDir = corpusRoot + "/rows"
          AnnIndex.buildIvfqIndex(base, indexDir, nlist = 4, seed = 11L)
          base.write.mode("overwrite").parquet(corpusDir) // seed the row store

          val stream = MemoryStream[(Long, Seq[Float])]
          // maxDrift = 0.30: batch 1 appends 40/80 → drift 0.5 → REFIT
          // fires after the first micro-batch, mid-stream by construction
          val q = StreamingAnnMaintain.sink(
              stream.toDS().toDF("vec_id", "embedding"), indexDir, corpusDir,
              nlist = 4, maxDrift = 0.30, seed = 11L)
            .option("checkpointLocation",
              suiteDir("maint_ckpt"))
            .start()
          try {
            stream.addData(arriving.take(40): _*); q.processAllAvailable()
            assert(new java.io.File(s"$indexDir/v_1/vectors").isDirectory,
              "drift crossed the bound but no refit committed mid-stream")
            // serving right after the cutover: exactly a fresh build on
            // everything ingested so far
            AnnIndex.buildIvfqIndex(
              spark.read.parquet(corpusDir), freshDir, nlist = 4, seed = 11L)
            def serve(d: String) = AnnIndex.ivfqTopKFromPath(spark, d,
              spark.read.parquet(corpusDir), queries, k = 3, nProbe = 2,
              rerank = 4).collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
              .sortBy(t => (t._1, t._2)).toList
            assert(serve(indexDir) == serve(freshDir),
              "post-cutover serving diverged from a fresh build")

            // keep streaming AFTER the refit: appends land inside the new
            // version root and drift re-accumulates from zero
            stream.addData(arriving.drop(40): _*); q.processAllAvailable()
            val m = AnnIndex.manifestCounts(spark, s"$indexDir/v_1").get
            assert(m._1 == 120 && m._2 == 40,
              s"post-refit manifest off: $m")
            // parity twin under the REFITTED centroids (append parity is
            // rebuild-under-same-centroids, not fresh-fit)
            import graft.functions.VectorOps
            import graft.operators.Similarity
            val centroids = AnnIndex.readCentroids(spark, indexDir)
            val corpus = spark.read.parquet(corpusDir)
            val exact = corpus.select(col("vec_id"),
                VectorOps.asDoubleArray(col("embedding")).as("cv"))
              .withColumn("cn", VectorOps.l2Norm(col("cv")))
            val rebuilt = Similarity.ivfqRerank(
                Similarity.quantizedCorpus(corpus), exact, queries, centroids,
                k = 3, nProbe = 2, rerank = 4).collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
              .sortBy(t => (t._1, t._2)).toList
            assert(serve(indexDir) == rebuilt,
              "serving diverged after post-refit appends")
          } finally q.stop()
        }
      }
    }
  }

  test("delete-triggered in-stream refit folds tombstones instead of resurrecting them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Deletes RAISE the drift fraction, so deleting is precisely what
    // fires the refit — and the refit rebuilds from the corpus store,
    // which still physically holds the deleted rows. Without the
    // tombstone fold the refit would resurrect every deleted vector
    // into serving and drop the ledger that masked them.
    val emb = clustered(4, 40, 16, seed = 41)
    val base = emb.filter(col("vec_id") < 120) // 120 rows built offline
    val deleted = base.filter(col("vec_id") % 4 === 1) // 30 rows revoked
    val arriving = emb.filter(col("vec_id") >= 120) // 40 rows stream in
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
    Materialize.withTempDir("maintd_idx") { indexDir =>
      Materialize.withTempDir("maintd_corpus") { corpusRoot =>
        Materialize.withTempDir("maintd_fresh") { freshDir =>
          val corpusDir = corpusRoot + "/rows"
          AnnIndex.buildIvfqIndex(base, indexDir, nlist = 4, seed = 11L)
          base.write.mode("overwrite").parquet(corpusDir)
          AnnIndex.deleteVectors(deleted.select("vec_id"), indexDir)
          // drift after batch 1 (20 rows): (20 + 30) / (120 + 20 - 30)
          // = 0.45 > 0.30 → the refit fires BECAUSE of the deletes
          val stream = MemoryStream[(Long, Seq[Float])]
          val q = StreamingAnnMaintain.sink(
              stream.toDS().toDF("vec_id", "embedding"), indexDir, corpusDir,
              nlist = 4, maxDrift = 0.30, seed = 11L)
            .option("checkpointLocation",
              suiteDir("maintd_ckpt"))
            .start()
          try {
            stream.addData(arriving.take(20): _*); q.processAllAvailable()
            assert(new java.io.File(s"$indexDir/v_1/vectors").isDirectory,
              "delete-raised drift crossed the bound but no refit committed")
            val deletedIds = deleted.select("vec_id").collect()
              .map(_.getLong(0)).toSet
            val delBox = deletedIds.toSeq.map(Long.box)
            // the refitted index must NOT hold the deleted rows…
            assert(spark.read.parquet(s"$indexDir/v_1/vectors")
                .filter(col("vec_id").isin(delBox: _*)).count() == 0,
              "in-stream refit resurrected deleted vectors into the index")
            // …and the corpus store was folded, so NO future refit can
            // resurrect them either (the ledger is gone after the cutover)
            assert(spark.read.parquet(corpusDir)
                .filter(col("vec_id").isin(delBox: _*)).count() == 0,
              "tombstoned rows survived in the corpus store across the refit")
            // serving parity: exactly a fresh build on the live corpus
            val live = spark.read.parquet(corpusDir)
            AnnIndex.buildIvfqIndex(live, freshDir, nlist = 4, seed = 11L)
            val queries = emb.filter(col("vec_id").isin(0L, 44L, 84L, 124L))
            def serve(d: String) = AnnIndex.ivfqTopKFromPath(spark, d, live,
              queries, k = 3, nProbe = 2, rerank = 4).collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
              .sortBy(t => (t._1, t._2)).toList
            val served = serve(indexDir)
            assert(served == serve(freshDir),
              "post-refit serving diverged from a fresh build on the live corpus")
            assert(served.forall(t => !deletedIds.contains(t._3)),
              "a deleted vector appeared in post-refit served results")
          } finally q.stop()
        }
      }
    }
  }

  test("a crash between the tombstone-fold renames never destroys the corpus store") {
    // the fold is: write live rows to ._live_tmp, rename rows→._old,
    // rename ._live_tmp→rows, drop ._old. Dying between the two
    // renames leaves the store ABSENT with both complete copies as
    // siblings — the next maintain must RESTORE one before clearing
    // "leftovers" (the pre-fix code deleted both first, permanently
    // destroying the corpus), then fold and refit normally.
    val emb = clustered(4, 30, 16, seed = 53)
    val deleted = emb.filter(col("vec_id") % 4 === 1) // 30 of 120 revoked
    Materialize.withTempDir("maintc_idx") { indexDir =>
      Materialize.withTempDir("maintc_corpus") { corpusRoot =>
        val corpusDir = corpusRoot + "/rows"
        AnnIndex.buildIvfqIndex(emb, indexDir, nlist = 4, seed = 11L)
        emb.write.mode("overwrite").parquet(corpusDir)
        AnnIndex.deleteVectors(deleted.select("vec_id"), indexDir)
        // fabricate the crash window exactly as the fold leaves it:
        // staged folded copy present, store renamed aside, store gone
        AnnIndex.liveRows(spark.read.parquet(corpusDir), indexDir)
          .write.parquet(s"$corpusDir._live_tmp")
        assert(new java.io.File(corpusDir)
          .renameTo(new java.io.File(s"$corpusDir._old")))
        assert(!new java.io.File(corpusDir).exists())
        // drift = 30 deleted / 90 live = 0.33 > 0.30 → refit fires,
        // which first recovers + folds the store
        val refitted = StreamingAnnMaintain.maintain(spark, indexDir,
          corpusDir, nlist = 4, maxDrift = 0.30, seed = 11L)
        assert(refitted, "delete-raised drift crossed the bound but no refit ran")
        val store = spark.read.parquet(corpusDir)
        assert(store.count() == 90, "recovered store lost rows")
        val delBox = deleted.select("vec_id").collect()
          .map(r => Long.box(r.getLong(0))).toSeq
        assert(store.filter(col("vec_id").isin(delBox: _*)).count() == 0,
          "tombstoned rows survived the recovered fold")
        assert(!new java.io.File(s"$corpusDir._live_tmp").exists()
          && !new java.io.File(s"$corpusDir._old").exists(),
          "fold leftovers survived the commit")
        assert(spark.read.parquet(s"$indexDir/v_1/vectors")
            .filter(col("vec_id").isin(delBox: _*)).count() == 0,
          "refit resurrected deleted vectors")
      }
    }
  }
}
