package graft.operators

import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}
import graft.sources.CorpusSink

/** The IVF scale claim made concrete: assign each vector its coarse
  * cell ([[Similarity.assignCells]]), write the corpus bucketed BY
  * cid through [[CorpusSink]], and prove that a probe reading nProbe
  * cells physically touches ONLY those cells' files — directory-level
  * partition pruning, not a full scan plus filter. */
class IvfLayoutSpec extends SparkTestBase {

  test("cid-bucketed layout: probe reads only probed cells' files") {
    import spark.implicits._
    // four well-separated angular clusters around the 4 axes of R^4
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 400).map { i =>
      val axis = i % 4
      val v = Array.tabulate(4)(j =>
        (if (j == axis) 10.0 else 0.0) + rnd.nextGaussian() * 0.1)
      (i.toLong, v)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val centroids = Similarity.kmeansCentroids(emb, nlist = 4, seed = 11L)
    assert(centroids.length == 4)
    val withCid = Similarity.assignCells(emb, centroids)
    Materialize.withTempDir("ivf_layout") { dir =>
      CorpusSink.writeParquet(withCid, dir, shardCol = "cid",
        sortCol = "vec_id", filesPerShard = 2)
      val cidDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName).toSet
      assert(cidDirs == Set("cid=1", "cid=2", "cid=3", "cid=4"),
        s"expected one dir per cell, got $cidDirs")

      // probe two of the four cells; input_file_name() reports the
      // files the scan ACTUALLY opened after partition pruning
      val probed = spark.read.parquet(dir).filter(col("cid").isin(1, 2))
      val filesRead = probed.select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSet
      assert(filesRead.nonEmpty)
      assert(filesRead.forall(f => f.contains("cid=1") || f.contains("cid=2")),
        s"scan opened an unprobed cell's file: $filesRead")
      assert(filesRead.size <= 4, // 2 cells x filesPerShard=2
        s"fan-out bound violated: ${filesRead.size} files")

      // the pruned probe still returns exactly the probed cells' rows
      val expected = withCid.filter(col("cid").isin(1, 2)).count()
      assert(probed.count() == expected)
    }
  }

  test("hash-sampled centroid fit stays deterministic and usable") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val emb = (0 until 500).map { i =>
      val axis = i % 2
      (i.toLong, Array.tabulate(4)(j =>
        (if (j == axis) 5.0 else 0.0) + rnd.nextGaussian() * 0.05))
    }.toDF("vec_id", "embedding")
    val a = Similarity.kmeansCentroids(emb, nlist = 2, seed = 5L, sampleMod = 4)
    val b = Similarity.kmeansCentroids(emb, nlist = 2, seed = 5L, sampleMod = 4)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq,
      "hash-sampled fit is not deterministic")
    // the two planted directions are recovered even from a 1/4 sample
    val dirs = a.map(c => c.indexOf(c.max)).toSet
    assert(dirs == Set(0, 1), s"centroids missed a planted direction: $dirs")
  }
}
