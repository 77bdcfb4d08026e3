package graft.operators

import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}

/** The graph-ANN stored-index claim made concrete (the
  * `IvfqLayoutSpec` analogue for the graph family): build the full
  * stored index once ([[AnnIndex.buildGraphIndex]] — edges AND the
  * centroid sidecar), and prove that serving queries entirely from
  * disk ([[AnnIndex.graphTopKFromPath]], no in-session fit) reads
  * only the (src, dst) columns — the score column exists for index
  * maintenance, not for traversal — and returns answers identical to
  * the in-session build. */
class GraphLayoutSpec extends SparkTestBase {

  private def clustered(nClusters: Int, perCluster: Int, dim: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian() * 5))
    (for (c <- 0 until nClusters; i <- 0 until perCluster) yield {
      val id = (c * perCluster + i).toLong
      (id, centers(c).map(v => (v + rnd.nextGaussian() * 0.2).toFloat).toSeq)
    }).toDF("vec_id", "embedding")
  }

  test("stored edge table: traversal reads (src, dst) only and serves identical answers") {
    val emb = clustered(4, 30, 16, seed = 17)
    val queries = emb.filter(col("vec_id").isin(5L, 35L, 65L, 95L))
    Materialize.withTempDir("graph_layout") { dir =>
      // the full stored form: src-hash-bucketed edges, in-file sorted
      // by src (row-group min/max stats then prune src point lookups)
      // PLUS the centroid sidecar — everything serving needs
      AnnIndex.buildGraphIndex(emb, dir, g = 8, nlist = 8, seed = 42L,
        nBuckets = 4, filesPerShard = 2)
      val stored = spark.read.parquet(s"$dir/edges")
      assert(stored.columns.toSet == Set("src", "dst", "score", "bucket"))

      // plan evidence: the traversal's first (and only) touch of the
      // stored table is a (src, dst) projection — parquet column
      // pruning drops the score column from the read schema
      val edgeScan = stored.select(col("src"), col("dst"))
      val scanLines = edgeScan.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("FileScan")).toList
      assert(scanLines.nonEmpty, "expected a parquet FileScan of the edges")
      assert(scanLines.exists(_.contains("ReadSchema: struct<src:bigint,dst:bigint>")),
        s"edge scan must read src/dst only: $scanLines")
      assert(!scanLines.exists(_.contains("score")),
        s"traversal scanned the score column: $scanLines")

      // serving parity, ENTIRELY from disk (edges + centroid sidecar,
      // no in-session fit): answers EXACTLY like the in-session build
      // with the same parameters
      val fromIndex = AnnIndex.graphTopKFromPath(spark, dir, emb, queries,
        k = 3, beam = 16, hops = 2, seedProbe = 2)
      val inSession = Similarity.graphTopK(emb, queries, k = 3, g = 8,
        beam = 16, hops = 2, nlist = 8, seedProbe = 2)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toList
      assert(rows(fromIndex) == rows(inSession),
        "stored-index serving diverged from the in-session build")

      // and the served answers still honor the recall contract
      val exact = Similarity.bruteForceTopK(emb, queries, k = 3)
      val recall = Similarity.meanRecall(fromIndex, exact)
        .head().getAs[Double]("recall")
      assert(recall >= 0.6, s"graph-from-index recall $recall below contract")

      // the frontier stays DISTRIBUTED: each hop re-plants as a
      // localCheckpoint (Scan ExistingRDD), never a driver-collected
      // LocalTableScan — the shape that survives a corpus-scaled
      // probe set
      val servedPlan = AnnIndex.graphTopKFromPath(spark, dir, emb, queries,
        k = 3, beam = 16, hops = 2, seedProbe = 2)
        .queryExecution.executedPlan.toString
      assert(!servedPlan.contains("LocalTableScan"),
        "a frontier hop was localized to the driver:\n" + servedPlan)
      assert(servedPlan.contains("ExistingRDD"),
        "expected the final frontier as a checkpointed ExistingRDD scan:\n"
          + servedPlan)
    }
  }
}
