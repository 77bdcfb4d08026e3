package graft.operators

import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}

/** Incremental maintenance of the stored ANN indexes ([[AnnIndex]]):
  * append must be a first-class citizen of the serving contract, not
  * a weaker sibling of rebuild.
  *
  *  - IVF×int8: appending under the frozen stored centroids uses the
  *    same quantize+assign function as build, so the appended index
  *    serves answers IDENTICAL to a full rebuild with those
  *    centroids — asserted as exact result parity.
  *  - graph: an insert is a search (HNSW rule); the appended graph
  *    must clear the same recall contract a full rebuild clears on
  *    the same corpus, appended nodes must be reachable both ways,
  *    and untouched buckets' files must survive byte-identical.
  *  - both: serving round-trips entirely from disk — edges/vectors
  *    AND the centroid sidecar — with no in-session fit.
  */
class AnnAppendSpec extends SparkTestBase {

  /** noise 1.0 (vs GraphLayoutSpec's 0.2) keeps within-cluster
    * cosines ~0.96 — separable from a planted near-copy's ~0.9999
    * even under int8 stage-1 jitter (~0.001), so rank-1 assertions on
    * planted probes are deterministic, not seed luck. */
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
    Materialize.withTempDir("ann_append")(f)

  private def resultSet(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    .sortBy(t => (t._1, t._2)).toList

  test("centroid sidecar round-trips exactly, cid order preserved") {
    val emb = clustered(3, 20, 8, seed = 5)
    withTempDir { dir =>
      val fit = Similarity.kmeansCentroids(emb, nlist = 4, seed = 42L)
      AnnIndex.writeCentroids(spark, fit, dir)
      val back = AnnIndex.readCentroids(spark, dir)
      assert(back.length == fit.length)
      fit.zip(back).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
    }
  }

  test("ivfq append under frozen centroids serves identically to a full rebuild") {
    val emb = clustered(4, 30, 16, seed = 31)
    val batch = emb.filter(col("vec_id") % 10 === 3)
    val old = emb.join(batch.select("vec_id"), Seq("vec_id"), "left_anti")
    val queries = emb.filter(col("vec_id").isin(5L, 35L, 65L, 95L, 3L))
    withTempDir { appendedDir =>
      withTempDir { rebuiltDir =>
        // build on the old corpus, append the batch
        val centroids = AnnIndex.buildIvfqIndex(old, appendedDir, nlist = 4,
          seed = 11L)
        AnnIndex.appendIvfq(batch, appendedDir)
        // "rebuild": same centroids, full corpus, one build pass
        AnnIndex.writeCentroids(spark, centroids, rebuiltDir)
        graft.sources.CorpusSink.writeParquet(
          Similarity.quantizedCorpus(emb)
            .withColumn("qcv", transform(col("qv"), q => q.cast("double")))
            .withColumn("cs", graft.functions.CentroidCosines.of(col("qcv"), centroids))
            .withColumn("cid", expr("array_position(cs, array_max(cs))").cast("int"))
            .select(col("vec_id"), col("qv"), col("scale"), col("cid")),
          s"$rebuiltDir/vectors", shardCol = "cid", sortCol = "vec_id",
          filesPerShard = 2)
        val servedAppend = AnnIndex.ivfqTopKFromPath(spark, appendedDir,
          emb, queries, k = 3, nProbe = 2, rerank = 4)
        val servedRebuild = AnnIndex.ivfqTopKFromPath(spark, rebuiltDir,
          emb, queries, k = 3, nProbe = 2, rerank = 4)
        assert(resultSet(servedAppend) == resultSet(servedRebuild),
          "appended ivfq index diverged from the frozen-centroid rebuild")
        // appended vectors are findable: probe with a near-copy of a
        // batch vector — its exact nearest neighbor IS that vector,
        // and the appended index must surface it at rank 1
        import spark.implicits._
        val probeSrc = batch.limit(2).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        val probes = probeSrc.toSeq.map { case (id, v) =>
          (id + 100000L, v.map(x => x + 0.001f).toSeq)
        }.toDF("vec_id", "embedding")
        val probed = AnnIndex.ivfqTopKFromPath(spark, appendedDir,
          emb, probes, k = 1, nProbe = 2, rerank = 4).collect()
          .map(r => r.getLong(0) -> r.getLong(2)).toMap
        probeSrc.foreach { case (id, _) =>
          assert(probed.get(id + 100000L).contains(id),
            s"near-copy probe of appended vector $id found ${probed.get(id + 100000L)} instead")
        }
        // and the recall contract holds end to end
        val exact = Similarity.bruteForceTopK(emb, queries, k = 3)
        val recall = Similarity.meanRecall(servedAppend, exact)
          .head().getAs[Double]("recall")
        assert(recall >= 0.6, s"appended-index recall $recall below contract")
      }
    }
  }

  test("ivfq upsert replaces and inserts, serving exactly the rebuild on the new corpus") {
    import spark.implicits._
    val emb = clustered(4, 30, 16, seed = 83)
    withTempDir { dir =>
      val centroids = AnnIndex.buildIvfqIndex(emb, dir, nlist = 4, seed = 11L)
      // batch: 4 REPLACEMENTS (existing ids, embeddings moved to a
      // different cluster's center so the change is visible in the
      // top-k) + 3 pure inserts
      val rnd = new scala.util.Random(9)
      val moved = Array.fill(16)((rnd.nextGaussian() * 5).toFloat)
      val batch = (Seq(3L, 33L, 63L, 93L).map(id =>
          (id, moved.map(v => v + rnd.nextGaussian().toFloat * 0.1f).toSeq)) ++
        Seq(500L, 501L, 502L).map(id =>
          (id, moved.map(v => v + rnd.nextGaussian().toFloat * 0.1f).toSeq)))
        .toDF("vec_id", "embedding")
      val purged = AnnIndex.upsertIvfq(batch, dir)
      assert(purged.nonEmpty, "replacements should rewrite their old cells")
      // corpus after the upsert
      val after = emb.join(batch.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(batch)
      val queries = after.filter(col("vec_id").isin(3L, 500L, 5L, 35L))
      val served = resultSet(AnnIndex.ivfqTopKFromPath(spark, dir, after,
        queries, k = 3, nProbe = 2, rerank = 4))
      import graft.functions.VectorOps
      val exact = after.select(col("vec_id"),
          VectorOps.asDoubleArray(col("embedding")).as("cv"))
        .withColumn("cn", VectorOps.l2Norm(col("cv")))
      val rebuilt = resultSet(Similarity.ivfqRerank(
        Similarity.quantizedCorpus(after), exact, queries, centroids,
        k = 3, nProbe = 2, rerank = 4))
      assert(served == rebuilt,
        "upsert serving diverged from a rebuild on the upserted corpus")
      // manifest: replaced rows drift as BOTH deleted and appended
      val m = AnnIndex.manifestCounts(spark, dir).get
      assert(m._2 == 7 && m._3 == 4,
        s"manifest off after upsert: $m")
      // idempotent-ish replay: same batch again = 7 more appends, 7
      // more deletes (the previous generation is replaced in full)
      AnnIndex.upsertIvfq(batch, dir)
      val m2 = AnnIndex.manifestCounts(spark, dir).get
      assert(m2._2 == 14 && m2._3 == 11,
        s"manifest off after replayed upsert: $m2")
      assert(resultSet(AnnIndex.ivfqTopKFromPath(spark, dir, after,
        queries, k = 3, nProbe = 2, rerank = 4)) == rebuilt,
        "replayed upsert changed served results")
    }
  }

  test("graph upsert replaces nodes with connectivity intact") {
    import spark.implicits._
    val emb = clustered(4, 30, 16, seed = 89)
    withTempDir { dir =>
      AnnIndex.buildGraphIndex(emb, dir, g = 8, nlist = 8, seed = 42L,
        nBuckets = 64)
      // move 3 existing nodes onto a fresh center + insert 2 new ones
      val rnd = new scala.util.Random(17)
      val moved = Array.fill(16)((rnd.nextGaussian() * 5).toFloat)
      val batch = (Seq(7L, 37L, 67L) ++ Seq(700L, 701L)).map(id =>
          (id, moved.map(v => v + rnd.nextGaussian().toFloat * 0.1f).toSeq))
        .toDF("vec_id", "embedding")
      val purged = AnnIndex.upsertGraph(batch, emb, dir, g = 8,
        beam = 16, hops = 2, seedProbe = 2, nBuckets = 64)
      assert(purged.nonEmpty, "replacements should consolidate their buckets")
      assert(!new java.io.File(s"$dir/deletes").exists(),
        "tombstones survived the upsert (the purge must drain them)")
      val after = emb.join(batch.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(batch)
      // the upserted nodes form their own tight cluster: each must
      // find its batch-mates (and never an old-version embedding can
      // be served — old rows are gone from the store we pass)
      val queries = after.filter(col("vec_id").isin(7L, 700L))
      val served = AnnIndex.graphTopKFromPath(spark, dir, after, queries,
        k = 3, beam = 16, hops = 2, seedProbe = 2).collect()
      assert(served.nonEmpty)
      val batchIds = Set(7L, 37L, 67L, 700L, 701L)
      val top1 = served.filter(_.getLong(1) == 1L).map(_.getLong(2))
      assert(top1.forall(batchIds.contains),
        s"an upserted node's nearest neighbor is not a batch-mate: ${top1.toSeq}")
      // recall vs exact over the upserted corpus still clears the bar
      val exact = Similarity.bruteForceTopK(after, queries, k = 3)
      val recall = Similarity.meanRecall(
        AnnIndex.graphTopKFromPath(spark, dir, after, queries, k = 3,
          beam = 16, hops = 2, seedProbe = 2), exact)
        .head().getAs[Double]("recall")
      assert(recall >= 0.6, s"post-upsert recall $recall below contract")
      // degree cap survives the consolidate + rewire
      val overG = spark.read.parquet(s"$dir/edges")
        .groupBy("src").agg(count(lit(1)).as("n"))
        .filter(col("n") > 8).count()
      assert(overG == 0, "per-src degree cap violated after upsert")
    }
  }

  test("graph append wires new nodes via search and clears the rebuild contract") {
    val emb = clustered(4, 30, 16, seed = 47)
    // a SMALL batch against MANY buckets: the incremental claim is
    // that untouched buckets survive byte-identical, which is only
    // observable when the batch's g-neighborhood doesn't blanket
    // every bucket (a big-batch append correctly degrades toward a
    // full rewrite)
    val batch = emb.filter(col("vec_id").isin(7L, 47L))
    val old = emb.join(batch.select("vec_id"), Seq("vec_id"), "left_anti")
    val queries = emb.filter(col("vec_id").isin(5L, 35L, 65L, 95L, 7L, 47L))
    withTempDir { dir =>
      AnnIndex.buildGraphIndex(old, dir, g = 8, nlist = 8, seed = 42L,
        nBuckets = 64)
      // fingerprint every edge file before the append
      def fileStamps(): Map[String, Long] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(s"$dir/edges"))
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> f.length()).toMap
      }
      val before = fileStamps()
      AnnIndex.appendGraph(batch, old, dir, g = 8, beam = 16, hops = 2,
        seedProbe = 2, nBuckets = 64)
      val after = fileStamps()
      // untouched buckets' files survive byte-identical (same path,
      // same size); touched buckets were rewritten
      val surviving = before.keySet.intersect(after.keySet)
      assert(surviving.nonEmpty, "append rewrote every bucket — not incremental")
      surviving.foreach(p => assert(before(p) == after(p), s"surviving file changed: $p"))
      val stored = spark.read.parquet(s"$dir/edges")
      val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
      // new nodes have forward edges (capped at g), and appear as
      // dst of some old node (the reverse shortcut)
      val bySrc = stored.groupBy("src").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      batchIds.foreach { id =>
        assert(bySrc.contains(id), s"appended node $id has no forward edges")
      }
      bySrc.foreach { case (src, n) =>
        assert(n <= 8, s"src $src exceeds g after re-rank: $n") }
      val revHits = stored.filter(!col("src").isin(batchIds.toSeq.map(Long.box): _*)
          && col("dst").isin(batchIds.toSeq.map(Long.box): _*)).count()
      assert(revHits > 0, "no old node gained a shortcut edge to an appended node")
      // served recall from the appended index clears the same
      // contract the full rebuild clears (GraphLayoutSpec's 0.6)
      val served = AnnIndex.graphTopKFromPath(spark, dir, emb, queries,
        k = 3, beam = 16, hops = 2, seedProbe = 2)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 3)
      val recall = Similarity.meanRecall(served, exact)
        .head().getAs[Double]("recall")
      assert(recall >= 0.6, s"appended-graph recall $recall below the rebuild contract")
    }
  }

}
