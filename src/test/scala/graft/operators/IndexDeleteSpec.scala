package graft.operators

import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}

/** Tombstone DELETE for the stored indexes — the lifecycle letter
  * append/compact left open. Contracts, per family:
  *
  *  - IVF×int8 ([[AnnIndex.deleteVectors]]): a delete writes one
  *    small tombstone file and touches no index file; serving masks
  *    tombstones BEFORE stage 1, so results are IDENTICAL (bit for
  *    bit) to a rebuild over the surviving corpus under the same
  *    centroids; [[AnnIndex.purgeIvfqDeletes]] rewrites ONLY the
  *    cells holding deleted rows (others byte-identical), drains the
  *    tombstone file, and serving is unchanged across the purge.
  *  - BM25 ([[Retrieval.deleteIndex]]): stats are decremented at
  *    delete time and serving masks postings before its df window,
  *    so served scores are BIT-IDENTICAL to a full rebuild on
  *    corpus-minus-deleted; [[Retrieval.purgeIndexDeletes]] rewrites
  *    only buckets holding deleted postings and serving is unchanged.
  *  - graph ([[AnnIndex.graphTopKFromPath]] +
  *    [[AnnIndex.purgeGraphDeletes]]): deleted nodes are never
  *    returned nor expanded from; the purge applies the DiskANN
  *    consolidation rule (in-neighbors inherit out-neighbors with
  *    exactly recomputed scores) so recall survives the physical
  *    removal, per-src degree stays ≤ g, and untouched buckets
  *    survive byte-identical.
  */
class IndexDeleteSpec extends SparkTestBase {

  private def clustered(nClusters: Int, perCluster: Int, dim: Int, seed: Int,
                        noise: Double = 1.0) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian() * 5))
    (for (c <- 0 until nClusters; i <- 0 until perCluster) yield {
      val id = (c * perCluster + i).toLong
      (id, centers(c).map(v => (v + rnd.nextGaussian() * noise).toFloat).toSeq)
    }).toDF("vec_id", "embedding")
  }

  private def withTempDir(f: String => Unit): Unit =
    Materialize.withTempDir("index_delete")(f)

  private def fileStamps(path: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(path))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length()).toMap
  }

  private def resultSet(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    .sortBy(t => (t._1, t._2)).toList

  test("ivfq delete masks exactly, serves rebuild-parity, purge drains physically") {
    val emb = clustered(4, 30, 16, seed = 31)
    val deleted = emb.filter(col("vec_id") % 10 === 3)
    val survivors = emb.join(deleted.select("vec_id"), Seq("vec_id"), "left_anti")
    val queries = emb.filter(col("vec_id").isin(5L, 35L, 65L, 95L, 4L))
    withTempDir { dir =>
      withTempDir { rebuiltDir =>
        val centroids = AnnIndex.buildIvfqIndex(emb, dir, nlist = 4, seed = 11L)
        val stampsBeforeDelete = fileStamps(s"$dir/vectors")
        AnnIndex.deleteVectors(deleted.select("vec_id"), dir)
        // a delete touches NO index file
        assert(fileStamps(s"$dir/vectors") == stampsBeforeDelete,
          "delete rewrote an index file")
        // rebuild twin: surviving corpus, same centroids
        AnnIndex.writeCentroids(spark, centroids, rebuiltDir)
        graft.sources.CorpusSink.writeParquet(
          Similarity.quantizedCorpus(survivors)
            .withColumn("qcv", transform(col("qv"), q => q.cast("double")))
            .withColumn("cs",
              graft.functions.CentroidCosines.of(col("qcv"), centroids))
            .withColumn("cid", expr("array_position(cs, array_max(cs))").cast("int"))
            .select(col("vec_id"), col("qv"), col("scale"), col("cid")),
          s"$rebuiltDir/vectors", shardCol = "cid", sortCol = "vec_id",
          filesPerShard = 2)
        val served = AnnIndex.ivfqTopKFromPath(spark, dir, emb, queries,
          k = 3, nProbe = 2, rerank = 4)
        val rebuilt = AnnIndex.ivfqTopKFromPath(spark, rebuiltDir, survivors,
          queries, k = 3, nProbe = 2, rerank = 4)
        assert(resultSet(served) == resultSet(rebuilt),
          "tombstone-masked serving diverged from the surviving-corpus rebuild")
        val deletedIds = deleted.select("vec_id").collect()
          .map(_.getLong(0)).toSet
        assert(resultSet(served).forall(t => !deletedIds.contains(t._3)),
          "a deleted vector appeared in served results")

        // purge: only tombstoned cells rewritten, tombstones drained,
        // serving unchanged
        val before = fileStamps(s"$dir/vectors")
        val purged = AnnIndex.purgeIvfqDeletes(spark, dir)
        assert(purged.nonEmpty, "purge found no cells despite live tombstones")
        val after = fileStamps(s"$dir/vectors")
        val surviving = before.keySet.intersect(after.keySet)
        surviving.foreach(p =>
          assert(before(p) == after(p), s"untouched-cell file changed: $p"))
        assert(!new java.io.File(s"$dir/deletes").exists(),
          "tombstone file survived the purge")
        assert(spark.read.parquet(s"$dir/vectors")
            .filter(col("vec_id").isin(deletedIds.toSeq.map(Long.box): _*))
            .count() == 0, "a deleted row survived the purge physically")
        val servedAfter = AnnIndex.ivfqTopKFromPath(spark, dir, emb, queries,
          k = 3, nProbe = 2, rerank = 4)
        assert(resultSet(servedAfter) == resultSet(served),
          "serving changed across the physical purge")
        // second purge is a clean no-op
        assert(AnnIndex.purgeIvfqDeletes(spark, dir).isEmpty)
      }
    }
  }

  test("bm25 delete serves bit-identical to rebuild-minus-deleted; purge preserves it") {
    import spark.implicits._
    val docs = (0 until 60).map { i =>
      (i.toLong, s"alpha${i % 5} shared beta${i % 7} filler word${i % 3} " +
        s"gamma${i % 11} shared tail${i % 2}")
    }.toDF("doc_id", "text")
    val deleted = docs.filter(col("doc_id") % 4 === 1)
    val survivors = docs.join(deleted.select("doc_id"), Seq("doc_id"), "left_anti")
    val qterms = Retrieval.dfCounts(survivors)
      .orderBy(col("df").desc, col("term")).limit(3)
      .collect().map(_.getString(0)).toSeq
    withTempDir { dir =>
      withTempDir { rebuiltDir =>
        Retrieval.buildIndex(docs, dir, nBuckets = 8, filesPerShard = 2)
        val stampsBeforeDelete = fileStamps(s"$dir/postings")
        Retrieval.deleteIndex(deleted.select("doc_id"), dir)
        assert(fileStamps(s"$dir/postings") == stampsBeforeDelete,
          "delete rewrote a postings file")
        // stats decremented to exactly the surviving corpus's
        Retrieval.buildIndex(survivors, rebuiltDir, nBuckets = 8,
          filesPerShard = 2)
        val sDel = spark.read.parquet(s"$dir/stats").head()
        val sReb = spark.read.parquet(s"$rebuiltDir/stats").head()
        assert(sDel.getAs[Long]("n_docs") == sReb.getAs[Long]("n_docs"))
        assert(sDel.getAs[Long]("sum_dl") == sReb.getAs[Long]("sum_dl"))
        // served scores bit-identical to the rebuild's
        def serve(d: String) = Retrieval.bm25TopKFromIndex(spark, d, qterms,
          k = 10, nBuckets = 8).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
        val served = serve(dir)
        assert(served == serve(rebuiltDir),
          "tombstone-masked BM25 diverged from the rebuild on survivors")
        val deletedIds = deleted.select("doc_id").collect()
          .map(_.getLong(0)).toSet
        assert(served.forall(t => !deletedIds.contains(t._1)))

        // idempotent for unknown ids: stats and results unchanged
        Retrieval.deleteIndex(Seq(999999L).toDF("doc_id"), dir)
        assert(serve(dir) == served)

        // purge: physical drop, serving unchanged, tombstones drained
        Retrieval.purgeIndexDeletes(spark, dir)
        assert(!new java.io.File(s"$dir/deletes").exists())
        assert(spark.read.parquet(s"$dir/postings")
            .filter(col("doc_id").isin(deletedIds.toSeq.map(Long.box): _*))
            .count() == 0, "a deleted posting survived the purge")
        assert(serve(dir) == served, "serving changed across the purge")
        // stored df restored to the exact post-delete value bucket-locally
        val dfBad = spark.read.parquet(s"$dir/postings")
          .groupBy("term").agg(max("df").as("stored"), count(lit(1)).as("actual"))
          .filter(col("stored") =!= col("actual")).count()
        assert(dfBad == 0, s"$dfBad terms carry a stale stored df after purge")
      }
    }
  }

  test("ivfq purge drains a fully-deleted cell; replays stay inert across the purge") {
    import spark.implicits._
    val emb = clustered(4, 30, 16, seed = 53)
    withTempDir { dir =>
      AnnIndex.buildIvfqIndex(emb, dir, nlist = 4, seed = 11L)
      // pick one STORED cell and tombstone every row it holds — the
      // fully-drained case the swap used to abort on mid-loop
      val byCell = spark.read.parquet(s"$dir/vectors")
        .select(col("cid").cast("int"), col("vec_id")).collect()
        .groupBy(_.getInt(0))
      val (cellId, cellRows) = byCell.minBy(_._2.length)
      val cellIds = cellRows.map(_.getLong(1)).toSeq
      def nDeleted = AnnIndex.manifestCounts(spark, dir).get._3
      AnnIndex.deleteVectors(cellIds.toDF("vec_id"), dir)
      val d0 = nDeleted
      assert(d0 == cellIds.size.toLong)
      // replay before the purge: dropped by the tombstone anti-join
      AnnIndex.deleteVectors(cellIds.toDF("vec_id"), dir)
      assert(nDeleted == d0, "pre-purge replay bumped n_deleted")
      // a vec_id the index never held: dropped by the membership probe
      AnnIndex.deleteVectors(Seq(999999L).toDF("vec_id"), dir)
      assert(nDeleted == d0, "nonexistent id bumped n_deleted")

      val queries = emb.filter(col("vec_id").isin(
        (0L until 120L).filterNot(cellIds.contains).take(5).map(Long.box): _*))
      val served = resultSet(AnnIndex.ivfqTopKFromPath(spark, dir, emb,
        queries, k = 3, nProbe = 4, rerank = 4))
      val purged = AnnIndex.purgeIvfqDeletes(spark, dir)
      assert(purged.contains(cellId), "the drained cell was not purged")
      assert(!new java.io.File(s"$dir/vectors/cid=$cellId").exists(),
        "drained cell directory survived the purge")
      assert(!new java.io.File(s"$dir/deletes").exists())
      assert(resultSet(AnnIndex.ivfqTopKFromPath(spark, dir, emb, queries,
        k = 3, nProbe = 4, rerank = 4)) == served,
        "serving changed across a drain purge")
      // replay ACROSS the purge boundary: the rows are physically gone,
      // so the membership probe keeps the batch out of the manifest
      AnnIndex.deleteVectors(cellIds.toDF("vec_id"), dir)
      assert(nDeleted == d0, "replay across the purge bumped n_deleted")
      assert(!new java.io.File(s"$dir/deletes").exists(),
        "replay across the purge re-created tombstones")
    }
  }

  test("bm25 delete of a zero-token document decrements stats exactly") {
    import spark.implicits._
    // docs 100 and 101 tokenize to NOTHING (punctuation only): they
    // carry no postings row but count in n_docs — and n_docs moves
    // avgdl, so every served score depends on deleting them exactly
    val docs = (0 until 30).map(i => (i.toLong, s"alpha beta w$i term${i % 4}"))
      .toDF("doc_id", "text")
      .unionByName(Seq((100L, "???"), (101L, "...")).toDF("doc_id", "text"))
    val deleted = Seq(100L, 3L).toDF("doc_id") // one empty, one worded
    val survivors = docs.join(deleted, Seq("doc_id"), "left_anti")
    withTempDir { dir =>
      withTempDir { rebuiltDir =>
        Retrieval.buildIndex(docs, dir, nBuckets = 8, filesPerShard = 2)
        Retrieval.deleteIndex(deleted, dir)
        Retrieval.buildIndex(survivors, rebuiltDir, nBuckets = 8,
          filesPerShard = 2)
        val sDel = spark.read.parquet(s"$dir/stats").head()
        val sReb = spark.read.parquet(s"$rebuiltDir/stats").head()
        assert(sDel.getAs[Long]("n_docs") == sReb.getAs[Long]("n_docs"),
          "empty-doc delete left n_docs high vs the rebuild")
        assert(sDel.getAs[Long]("sum_dl") == sReb.getAs[Long]("sum_dl"))
        // served scores bit-identical to the rebuild (avgdl matches)
        val qterms = Retrieval.dfCounts(survivors)
          .orderBy(col("df").desc, col("term")).limit(3)
          .collect().map(_.getString(0)).toSeq
        def serve(d: String) = Retrieval.bm25TopKFromIndex(spark, d, qterms,
          k = 10, nBuckets = 8).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
        assert(serve(dir) == serve(rebuiltDir))
        // purge, then REPLAY the delete: the emptydocs sidecar was
        // folded, so the replay finds no membership and stays inert
        Retrieval.purgeIndexDeletes(spark, dir)
        Retrieval.deleteIndex(deleted, dir)
        val sAfter = spark.read.parquet(s"$dir/stats").head()
        assert(sAfter.getAs[Long]("n_docs") == sReb.getAs[Long]("n_docs"),
          "replayed delete across the purge re-decremented n_docs")
        assert(!new java.io.File(s"$dir/deletes").exists(),
          "replayed delete across the purge re-created tombstones")
        // the OTHER empty doc still counts (only the deleted one left)
        assert(spark.read.parquet(s"$dir/emptydocs").collect()
          .map(_.getLong(0)).toSet == Set(101L))
      }
    }
  }

  test("bm25 purge and append take an emptydocs sidecar written before it was bucketed") {
    import spark.implicits._
    val docs = (0 until 20).map(i => (i.toLong, s"alpha beta w$i"))
      .toDF("doc_id", "text")
      .unionByName(Seq((100L, "???"), (101L, "...")).toDF("doc_id", "text"))
    withTempDir { dir =>
      withTempDir { rebuiltDir =>
        Retrieval.buildIndex(docs, dir, nBuckets = 8)
        // the earlier layout: the zero-token ids as flat files, no buckets
        Seq(100L, 101L).toDF("doc_id").write.mode("overwrite").parquet(s"$dir/emptydocs")
        Retrieval.deleteIndex(Seq(100L, 3L).toDF("doc_id"), dir)
        Retrieval.purgeIndexDeletes(spark, dir)
        assert(!new java.io.File(s"$dir/deletes").exists(), "the purge did not finish")
        Retrieval.appendIndex(Seq((102L, "!!!")).toDF("doc_id", "text"), dir, nBuckets = 8)
        Retrieval.buildIndex(docs.filter(!col("doc_id").isin(100L, 3L))
          .unionByName(Seq((102L, "!!!")).toDF("doc_id", "text")), rebuiltDir, nBuckets = 8)
        def stats(d: String) = spark.read.parquet(s"$d/stats").head()
        assert(stats(dir) == stats(rebuiltDir))
        assert(spark.read.parquet(s"$dir/emptydocs").select("doc_id").as[Long]
          .collect().toSet == Set(101L, 102L))
      }
    }
  }

  test("bm25 and graph purges survive a total drain") {
    import spark.implicits._
    withTempDir { dir =>
      val docs = (0 until 20).map(i => (i.toLong, s"alpha beta w$i")).toDF("doc_id", "text")
      Retrieval.buildIndex(docs, dir, nBuckets = 8, filesPerShard = 2)
      Retrieval.deleteIndex(docs.select("doc_id"), dir)
      Retrieval.purgeIndexDeletes(spark, dir) // must not abort on drained buckets
      val left = new java.io.File(s"$dir/postings").listFiles()
        .filter(_.getName.startsWith("term_bucket="))
      assert(left.isEmpty, s"${left.length} drained buckets survived the purge")
      assert(spark.read.parquet(s"$dir/stats").head().getAs[Long]("n_docs") == 0L)
      // a drained index still serves: an empty top-k, not a schema error
      assert(Retrieval.bm25TopKFromIndex(spark, dir, Seq("alpha", "beta"),
        nBuckets = 8).count() == 0L, "the drained BM25 index served rows")
    }
    withTempDir { dir =>
      val emb = clustered(3, 20, 16, seed = 59)
      AnnIndex.buildGraphIndex(emb, dir, g = 4, nlist = 4, seed = 42L, nBuckets = 8)
      AnnIndex.deleteVectors(emb.select("vec_id"), dir)
      AnnIndex.purgeGraphDeletes(spark, dir,
        emb.limit(0), g = 4, nBuckets = 8) // no survivors
      val left = new java.io.File(s"$dir/edges").listFiles()
        .filter(_.getName.startsWith("bucket="))
      assert(left.isEmpty, s"${left.length} drained edge buckets survived the purge")
      assert(!new java.io.File(s"$dir/deletes").exists())
      assert(AnnIndex.graphTopKFromPath(spark, dir, emb.limit(0), emb.limit(3),
        k = 3).count() == 0L, "the drained graph index served rows")
    }
    withTempDir { dir =>
      val emb = clustered(3, 20, 16, seed = 59)
      AnnIndex.buildIvfqIndex(emb, dir, nlist = 4, seed = 11L)
      AnnIndex.deleteVectors(emb.select("vec_id"), dir)
      AnnIndex.purgeIvfqDeletes(spark, dir)
      val left = new java.io.File(s"$dir/vectors").listFiles()
        .filter(_.getName.startsWith("cid="))
      assert(left.isEmpty, s"${left.length} drained cells survived the purge")
      assert(AnnIndex.ivfqTopKFromPath(spark, dir, emb, emb.limit(3), k = 3)
        .count() == 0L, "the drained IVF×int8 index served rows")
    }
  }

  test("graph delete tombstones a node consolidated out of the edge table") {
    import spark.implicits._
    // The edge table is NOT a membership source: consolidation can
    // erase every edge touching a still-servable node (serving seeds
    // from the corpus, so the node keeps being returned). A delete of
    // such a node used to be silently discarded by the edges probe;
    // the nodes sidecar makes it exact.
    val emb = clustered(3, 20, 16, seed = 61)
    val x = 7L
    withTempDir { dir =>
      AnnIndex.buildGraphIndex(emb, dir, g = 4, nlist = 4, seed = 42L,
        nBuckets = 8)
      // simulate a consolidation that stripped x from the edge table
      val kept = spark.read.parquet(s"$dir/edges")
        .filter(col("src") =!= x && col("dst") =!= x)
        .select(col("src"), col("dst"), col("score"), col("bucket"))
        .collect().toSeq
      val keptDf = spark.createDataFrame(
        spark.sparkContext.parallelize(kept),
        spark.read.parquet(s"$dir/edges").schema)
      Materialize.deleteTree(s"$dir/edges")
      keptDf.write.partitionBy("bucket").parquet(s"$dir/edges")
      // x is edge-free but still servable: a query carrying x's exact
      // embedding (fresh qid — the traversal filters qid == vec_id)
      // seeds from x's cell and returns x at score 1
      val qx = emb.filter(col("vec_id") === x)
        .select(lit(900L).as("vec_id"), col("embedding"))
      val servedBefore = AnnIndex.graphTopKFromPath(spark, dir, emb, qx,
        k = 3, beam = 16, hops = 2, seedProbe = 2).collect()
      assert(servedBefore.exists(_.getLong(2) == x),
        "precondition broke: consolidated-out node not served")
      def nDeleted = AnnIndex.manifestCounts(spark, dir).get._3
      val d0 = nDeleted
      AnnIndex.deleteVectors(Seq(x).toDF("vec_id"), dir)
      assert(nDeleted == d0 + 1,
        "delete of a consolidated-out node was discarded by the probe")
      val servedAfter = AnnIndex.graphTopKFromPath(spark, dir, emb, qx,
        k = 3, beam = 16, hops = 2, seedProbe = 2).collect()
      assert(servedAfter.forall(_.getLong(2) != x),
        "deleted node still served after tombstone")
      // purge folds the nodes sidecar too; a replay stays inert
      AnnIndex.purgeGraphDeletes(spark, dir, emb.filter(col("vec_id") =!= x),
        g = 4, nBuckets = 8)
      assert(spark.read.parquet(s"$dir/nodes")
        .filter(col("vec_id") === x).count() == 0,
        "purged node survived in the membership sidecar")
      AnnIndex.deleteVectors(Seq(x).toDF("vec_id"), dir)
      assert(nDeleted == d0 + 1, "replay across the purge bumped n_deleted")
    }
  }

  test("bulk delete takes the semi-join path and keeps the manifest exact") {
    import spark.implicits._
    val emb = clustered(4, 30, 16, seed = 67) // ids 0..119
    withTempDir { dir =>
      AnnIndex.buildIvfqIndex(emb, dir, nlist = 4, seed = 11L)
      // 100k-id erasure batch, of which exactly 70 exist (50..119):
      // far past StoredShards.BulkThreshold, so no isin literal list and no driver
      // localization — the fresh set goes through the staging dir
      val batch = spark.range(50L, 100050L).select(col("id").as("vec_id"))
      AnnIndex.deleteVectors(batch, dir)
      def nDeleted = AnnIndex.manifestCounts(spark, dir).get._3
      assert(nDeleted == 70L,
        s"bulk membership probe off: n_deleted=$nDeleted (want 70)")
      assert(spark.read.parquet(s"$dir/deletes").count() == 70L)
      assert(!new java.io.File(s"$dir/_delete_stage").exists(),
        "bulk staging dir survived")
      // replay of the whole batch: every live id is already
      // tombstoned, every other id fails membership — fully inert
      AnnIndex.deleteVectors(batch, dir)
      assert(nDeleted == 70L, "bulk replay bumped n_deleted")
      // serving masks the bulk tombstones like any other delete
      val queries = emb.filter(col("vec_id") < 5)
      val served = AnnIndex.ivfqTopKFromPath(spark, dir, emb, queries,
        k = 3, nProbe = 4, rerank = 4).collect()
      assert(served.nonEmpty && served.forall(_.getLong(2) < 50L),
        "a bulk-deleted vector appeared in served results")
    }
  }

  test("bm25 bulk delete takes the semi-join path and decrements stats exactly") {
    import spark.implicits._
    // ids 0..119; 100 and 101 tokenize to nothing, so the emptydocs
    // sidecar is part of the membership the bulk path probes
    val docs = (0 until 120).map(i => (i.toLong,
        if (i == 100 || i == 101) "???" else s"alpha${i % 5} shared w$i term${i % 4}"))
      .toDF("doc_id", "text")
    val survivors = docs.filter(col("doc_id") < 50)
    withTempDir { dir =>
      withTempDir { rebuiltDir =>
        Retrieval.buildIndex(docs, dir, nBuckets = 8, filesPerShard = 2)
        Retrieval.buildIndex(survivors, rebuiltDir, nBuckets = 8, filesPerShard = 2)
        // 100k-id erasure batch, of which exactly 70 exist (50..119)
        val batch = spark.range(50L, 100050L).select(col("id").as("doc_id"))
        Retrieval.deleteIndex(batch, dir)
        def stats(d: String) = {
          val r = spark.read.parquet(s"$d/stats").head()
          (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl"))
        }
        assert(stats(dir) == stats(rebuiltDir),
          s"bulk delete stats ${stats(dir)} differ from the rebuild's ${stats(rebuiltDir)}")
        assert(spark.read.parquet(s"$dir/deletes").count() == 70L)
        assert(!new java.io.File(s"$dir/_delete_stage").exists(),
          "bulk staging dir survived")
        // replay of the whole batch: every member is already tombstoned
        Retrieval.deleteIndex(batch, dir)
        assert(stats(dir) == stats(rebuiltDir), "bulk replay changed the stats")
        assert(spark.read.parquet(s"$dir/deletes").count() == 70L,
          "bulk replay added tombstones")
        // serving masks the bulk tombstones like any other delete
        def serve(d: String) = Retrieval.bm25TopKFromIndex(spark, d,
          Seq("shared", "alpha1"), k = 20, nBuckets = 8).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
        val served = serve(dir)
        assert(served.nonEmpty && served.forall(_._1 < 50L),
          "a bulk-deleted document appeared in served results")
        assert(served == serve(rebuiltDir))
      }
    }
  }

  test("graph delete masks served results; purge re-stitches connectivity") {
    val emb = clustered(4, 30, 16, seed = 47)
    val deleted = emb.filter(col("vec_id").isin(6L, 36L, 66L, 96L))
    val survivors = emb.join(deleted.select("vec_id"), Seq("vec_id"), "left_anti")
    val queries = survivors.filter(col("vec_id").isin(5L, 35L, 65L, 95L))
    withTempDir { dir =>
      AnnIndex.buildGraphIndex(emb, dir, g = 8, nlist = 8, seed = 42L,
        nBuckets = 64)
      AnnIndex.deleteVectors(deleted.select("vec_id"), dir)
      val deletedIds = deleted.select("vec_id").collect().map(_.getLong(0)).toSet
      def servedSet() = AnnIndex.graphTopKFromPath(spark, dir, emb, queries,
        k = 3, beam = 16, hops = 2, seedProbe = 2)
      val served = servedSet().collect()
      assert(served.nonEmpty)
      assert(served.forall(r => !deletedIds.contains(r.getLong(2))),
        "a deleted node appeared in served graph results")
      val exact = Similarity.bruteForceTopK(survivors, queries, k = 3)
      val recall0 = Similarity.meanRecall(servedSet(), exact)
        .head().getAs[Double]("recall")
      assert(recall0 >= 0.6, s"masked-serving recall $recall0 below contract")

      // purge: stitched edges keep paths alive, degree cap holds,
      // untouched buckets byte-identical, tombstones drained
      val before = fileStamps(s"$dir/edges")
      val purged = AnnIndex.purgeGraphDeletes(spark, dir, survivors,
        g = 8, nBuckets = 64)
      assert(purged.nonEmpty)
      val after = fileStamps(s"$dir/edges")
      val surviving = before.keySet.intersect(after.keySet)
      assert(surviving.nonEmpty, "purge rewrote every bucket — not incremental")
      surviving.foreach(p =>
        assert(before(p) == after(p), s"untouched-bucket file changed: $p"))
      assert(!new java.io.File(s"$dir/deletes").exists())
      val stored = spark.read.parquet(s"$dir/edges")
      val delBox = deletedIds.toSeq.map(Long.box)
      assert(stored.filter(col("src").isin(delBox: _*)
          || col("dst").isin(delBox: _*)).count() == 0,
        "an edge touching a deleted node survived the purge")
      val overG = stored.groupBy("src").agg(count(lit(1)).as("n"))
        .filter(col("n") > 8).count()
      assert(overG == 0, "per-src degree cap violated after stitch re-rank")
      val recall1 = Similarity.meanRecall(servedSet(), exact)
        .head().getAs[Double]("recall")
      assert(recall1 >= 0.6, s"post-purge recall $recall1 below contract")
    }
  }
}
