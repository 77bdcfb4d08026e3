package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}
import graft.operators.{AnnIndex, Similarity}
import graft.sources.CorpusSink

/** Streaming upsert ([[StreamingAnnUpsert]]): micro-batches of
  * replace-or-insert vectors land in BOTH the bucketed row store and
  * the stored index with replace semantics — no stale versions
  * anywhere — serving equals a fresh rebuild on the final corpus,
  * and a replayed batch is a byte-stable no-op (the exactly-once
  * story without admission dedup). */
class StreamingAnnUpsertSpec extends SparkTestBase {

  private def clustered(n: Int, dim: Int, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian() * 5))
    (0 until n).map { i =>
      (i.toLong, centers(i % 4).map(v => (v + rnd.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("streamed upserts replace everywhere; serving equals rebuild; replays are byte-stable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = clustered(120, 16, seed = 83) // ids 0..119
    Materialize.withTempDir("up_idx") { indexDir =>
      Materialize.withTempDir("up_corpus") { corpusRoot =>
        Materialize.withTempDir("up_fresh") { freshDir =>
          val corpusDir = corpusRoot + "/rows"
          AnnIndex.buildIvfqIndex(base, indexDir, nlist = 4, seed = 11L)
          // seed the bucketed row store with the build corpus
          StreamingAnnUpsert.upsertBatch(base, indexDir, corpusDir, nBuckets = 8)
          // ...which must itself be a no-op on the index's live rows
          // (upsert of the index's own rows = replace with themselves)

          // batch 1: replace ids 0..9 with reversed vectors + insert
          // 200..204; batch 2 re-replaces 0..4 (two revisions in-stream)
          val rev = base.filter(col("vec_id") < 10)
            .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
          val ins = clustered(5, 16, seed = 89)
            .select((col("vec_id") + 200L).as("vec_id"), col("embedding"))
          val b1 = rev.unionByName(ins)
            .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
          val rev2 = base.filter(col("vec_id") < 5)
            .select(col("vec_id"),
              reverse(reverse(col("embedding"))).as("embedding")) // back to original
          val b2 = rev2
            .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq

          val stream = MemoryStream[(Long, Seq[Float])]
          val q = StreamingAnnUpsert.sink(
              stream.toDS().toDF("vec_id", "embedding"), indexDir, corpusDir,
              nBuckets = 8)
            .option("checkpointLocation",
              suiteDir("up_ckpt"))
            .start()
          try {
            stream.addData(b1: _*); q.processAllAvailable()
            stream.addData(b2: _*); q.processAllAvailable()
          } finally q.stop()

          // expected final corpus: 0..4 original, 5..9 reversed, 10..119
          // original, 200..204 inserted
          val expected = base.filter(col("vec_id") >= 10 || col("vec_id") < 5)
            .unionByName(base.filter(col("vec_id") >= 5 && col("vec_id") < 10)
              .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
            .unionByName(clustered(5, 16, seed = 89)
              .select((col("vec_id") + 200L).as("vec_id"), col("embedding")))
          def corpusSet(df: org.apache.spark.sql.DataFrame) = df.collect()
            .map(r => (r.getLong(0), r.getSeq[Float](1).toList)).toSet
          val stored = StreamingAnnUpsert.corpus(spark, corpusDir)
          assert(corpusSet(stored) == corpusSet(expected),
            "row store diverged from the expected upserted corpus")
          // no stale versions: one row per id
          assert(stored.groupBy("vec_id").count().filter(col("count") > 1)
            .isEmpty, "row store holds stale versions")

          // serving from the upserted index over the upserted store ==
          // fresh rebuild on the expected corpus under the SAME centroids
          val queries = expected.filter(col("vec_id") % 25 === 0)
          val centroids = AnnIndex.readCentroids(spark, indexDir)
          import graft.functions.VectorOps
          val exact = expected.select(col("vec_id"),
              VectorOps.asDoubleArray(col("embedding")).as("cv"))
            .withColumn("cn", VectorOps.l2Norm(col("cv")))
          def rs(df: org.apache.spark.sql.DataFrame) = df.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
            .sortBy(t => (t._1, t._2)).toList
          val served = rs(AnnIndex.ivfqTopKFromPath(spark, indexDir, stored,
            queries, k = 3, nProbe = 2, rerank = 4))
          val rebuilt = rs(Similarity.ivfqRerank(
            Similarity.quantizedCorpus(expected), exact, queries, centroids,
            k = 3, nProbe = 2, rerank = 4))
          assert(served == rebuilt,
            "upserted serving diverged from rebuild on the upserted corpus")

          // REPLAY batch 2's body (redelivery without checkpoint):
          // byte-stable state, identical serving
          val beforeVecs = corpusSet(stored)
          StreamingAnnUpsert.upsertBatch(
            b2.toDF("vec_id", "embedding"), indexDir, corpusDir, nBuckets = 8)
          assert(corpusSet(StreamingAnnUpsert.corpus(spark, corpusDir))
            == beforeVecs, "replayed upsert changed the row store")
          assert(rs(AnnIndex.ivfqTopKFromPath(spark, indexDir,
            StreamingAnnUpsert.corpus(spark, corpusDir), queries,
            k = 3, nProbe = 2, rerank = 4)) == served,
            "replayed upsert changed served results")
        }
      }
    }
  }
}
