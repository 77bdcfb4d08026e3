package graft.operators

import java.nio.file.Paths

import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}

/** Compaction — the maintenance valve both append paths promise
  * ([[Retrieval.compactIndex]] for BM25 postings,
  * [[AnnIndex.compactIvfq]] for IVF vectors). Contracts:
  *
  *  1. SELECTIVE: only shards whose file count exceeds the threshold
  *     are rewritten; every below-threshold shard's files survive
  *     byte-identical (path + size), and the candidate pick is a
  *     directory listing, not a scan;
  *  2. file counts fold back to ≤ filesPerShard per compacted shard;
  *  3. serving is UNCHANGED bit for bit — and for BM25 the stored df
  *     column is RESTORED to the exact global value (equal to what a
  *     fresh full build would store), which an append sequence had
  *     left segment-local.
  */
class IndexCompactionSpec extends SparkTestBase {

  private def withTempDir(f: String => Unit): Unit =
    Materialize.withTempDir("compaction")(f)

  private def parquetFiles(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length()).toMap
  }

  private def filesPerShardDir(dir: String): Map[String, Int] =
    parquetFiles(dir).keySet.toSeq
      .map(p => Paths.get(p).getParent.getFileName.toString)
      .groupBy(identity).map { case (k, v) => k -> v.size }

  private val nBuckets = 8

  private def corpus = {
    import spark.implicits._
    (0 until 90).map { i =>
      (i.toLong, s"alpha${i % 5} shared beta${i % 7} filler word${i % 3} " +
        s"gamma${i % 11} shared tail${i % 2}")
    }.toDF("doc_id", "text")
  }

  test("bm25 compaction folds oversized buckets, restores global df, serving unchanged") {
    val docs = corpus
    withTempDir { dir =>
      withTempDir { rebuiltDir =>
        // build on a third, then append twice — buckets touched by
        // all three writes exceed the threshold of 2 (at this tiny
        // scale AQE coalesces each write to 1 file per bucket)
        Retrieval.buildIndex(docs.filter(col("doc_id") % 3 === 0), dir,
          nBuckets = nBuckets, filesPerShard = 2)
        Retrieval.appendIndex(docs.filter(col("doc_id") % 3 === 1), dir,
          nBuckets = nBuckets, filesPerShard = 2)
        Retrieval.appendIndex(docs.filter(col("doc_id") % 3 === 2), dir,
          nBuckets = nBuckets, filesPerShard = 2)
        val before = parquetFiles(s"$dir/postings")
        val qterms = Retrieval.dfCounts(docs)
          .filter(!col("term").isin("the", "a", "of", "and", "in"))
          .orderBy(col("df").desc, col("term")).limit(3)
          .collect().map(_.getString(0)).toSeq
        val servedBefore = Retrieval.bm25TopKFromIndex(spark, dir, qterms,
          k = 10, nBuckets = nBuckets).collect().map(_.toSeq).toSeq

        val compacted = Retrieval.compactIndex(spark, dir,
          filesPerShard = 2, maxFilesPerBucket = 2)
        assert(compacted.nonEmpty, "appends never exceeded the threshold — fixture too small")

        // selective: untouched buckets byte-identical, compacted gone
        val after = parquetFiles(s"$dir/postings")
        val compactedDirs = compacted.map(b => s"term_bucket=$b").toSet
        before.foreach { case (p, len) =>
          val bucketDir = Paths.get(p).getParent.getFileName.toString
          if (compactedDirs.contains(bucketDir))
            assert(!after.contains(p), s"compacted bucket kept old file $p")
          else
            assert(after.get(p).contains(len), s"untouched bucket file changed: $p")
        }
        // folded: every compacted bucket back to <= filesPerShard files
        filesPerShardDir(s"$dir/postings").foreach { case (d, n) =>
          if (compactedDirs.contains(d))
            assert(n <= 2, s"compacted $d still has $n files")
        }
        // a second pass finds nothing left to do
        assert(Retrieval.compactIndex(spark, dir, filesPerShard = 2,
          maxFilesPerBucket = 2).isEmpty)

        // serving bit-identical across the compaction
        val servedAfter = Retrieval.bm25TopKFromIndex(spark, dir, qterms,
          k = 10, nBuckets = nBuckets).collect().map(_.toSeq).toSeq
        assert(servedAfter == servedBefore, "compaction changed served scores")

        // stored df restored to the global value a fresh build stores
        Retrieval.buildIndex(docs, rebuiltDir, nBuckets = nBuckets,
          filesPerShard = 2)
        val storedDf = spark.read.parquet(s"$dir/postings")
          .filter(col("term_bucket").isin(compacted: _*))
          .select(col("term"), col("doc_id"), col("df"))
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
          .toMap
        val rebuiltDf = spark.read.parquet(s"$rebuiltDir/postings")
          .select(col("term"), col("doc_id"), col("df"))
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
          .toMap
        assert(storedDf.nonEmpty)
        storedDf.foreach { case (k, v) =>
          assert(rebuiltDf.get(k).contains(v),
            s"stored df for $k is $v, fresh build stores ${rebuiltDf.get(k)}")
        }
      }
    }
  }

  private def clustered(nClusters: Int, perCluster: Int, dim: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian() * 5))
    (for (c <- 0 until nClusters; i <- 0 until perCluster) yield {
      val id = (c * perCluster + i).toLong
      (id, centers(c).map(v => (v + rnd.nextGaussian()).toFloat).toSeq)
    }).toDF("vec_id", "embedding")
  }

  test("ivfq compaction folds oversized cells with rows and serving unchanged") {
    val emb = clustered(4, 30, 16, seed = 19)
    val old = emb.filter(col("vec_id") % 3 === 0)
    withTempDir { dir =>
      AnnIndex.buildIvfqIndex(old, dir, nlist = 4, seed = 11L)
      AnnIndex.appendIvfq(emb.filter(col("vec_id") % 3 === 1), dir)
      AnnIndex.appendIvfq(emb.filter(col("vec_id") % 3 === 2), dir)
      val before = parquetFiles(s"$dir/vectors")
      val rowsBefore = spark.read.parquet(s"$dir/vectors")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val queries = emb.filter(col("vec_id").isin(5L, 35L, 65L, 95L))
      val servedBefore = AnnIndex.ivfqTopKFromPath(spark, dir, emb, queries,
        k = 3, nProbe = 2, rerank = 4).collect().map(_.toSeq).toSeq

      val compacted = AnnIndex.compactIvfq(spark, dir,
        filesPerShard = 2, maxFilesPerCell = 2)
      assert(compacted.nonEmpty, "appends never exceeded the threshold — fixture too small")

      val after = parquetFiles(s"$dir/vectors")
      val compactedDirs = compacted.map(c => s"cid=$c").toSet
      before.foreach { case (p, len) =>
        val cellDir = Paths.get(p).getParent.getFileName.toString
        if (!compactedDirs.contains(cellDir))
          assert(after.get(p).contains(len), s"untouched cell file changed: $p")
      }
      filesPerShardDir(s"$dir/vectors").foreach { case (d, n) =>
        if (compactedDirs.contains(d)) assert(n <= 2, s"compacted $d still has $n files")
      }
      // rows content-identical, serving bit-identical
      val rowsAfter = spark.read.parquet(s"$dir/vectors")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(rowsAfter == rowsBefore, "compaction changed stored rows")
      val servedAfter = AnnIndex.ivfqTopKFromPath(spark, dir, emb, queries,
        k = 3, nProbe = 2, rerank = 4).collect().map(_.toSeq).toSeq
      assert(servedAfter == servedBefore, "compaction changed served results")
      // second pass is a no-op
      assert(AnnIndex.compactIvfq(spark, dir, filesPerShard = 2,
        maxFilesPerCell = 2).isEmpty)
    }
  }
}
