package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

import graft.operators.{AnnIndex, Dedup, ModelSelection, Similarity, Tokenizer}

/** The materialization primitive releases what it pins on every path,
  * and so does each operator that pins through it: run on a good
  * input and on one poisoned with `raise_error` on a single row, each
  * leaves the session's cached Datasets and persisted RDDs as it found
  * them. */
class MaterializeSpec extends SparkTestBase {

  import spark.implicits._

  private def cachedDatasets: Int = Bridge.cachedDatasets(spark)
  private def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `body` and asserts it left no cached Dataset and no persisted
    * RDD behind. Only NEW RDDs count: the context cleaner may drop an
    * earlier suite's garbage RDDs at any time. */
  private def leavesNothing(what: String)(body: => Unit): Unit = {
    val (datasets, rdds) = (cachedDatasets, persistedRdds)
    body
    assert(cachedDatasets == datasets,
      s"$what left ${cachedDatasets - datasets} cached Dataset(s)")
    assert((persistedRdds -- rdds).isEmpty,
      s"$what left persisted RDD(s) ${persistedRdds -- rdds}")
  }

  /** `body` must fail on the poisoned row. */
  private def poisoned(body: => Unit): Unit = {
    val e = intercept[Exception](body)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains(Poison)), e.toString)
  }

  private val Poison = "poisoned row"
  /** `df` whose `column` raises on the row whose first column is `row`. */
  private def poison(df: DataFrame, column: String, row: Long = 7L): DataFrame =
    df.withColumn(column,
      when(col(df.columns.head) === row, raise_error(lit(Poison))).otherwise(col(column)))

  // ---- the primitive ----

  test("withCached caches for its body and releases on a normal and a throwing body") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
    val rdd = spark.sparkContext.parallelize(1 to 10, 2)
    leavesNothing("a normal body") {
      val n = Materialize.withCached(df, rdd) {
        assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
        assert(rdd.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
        df.count() + rdd.count()
      }
      assert(n == 110)
    }
    leavesNothing("a throwing body") {
      intercept[IllegalStateException] {
        Materialize.withCached(df, rdd) {
          df.count()
          throw new IllegalStateException("boom")
        }
      }
    }
  }

  test("an inner scope and a scope around a pin leave the outer cache in place") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
    leavesNothing("nested scopes") {
      Materialize.withCached(df) {
        Materialize.withCached(df)(df.count())
        // an equal plan is the same cache entry
        Materialize.withCached(spark.range(0, 100, 1, 4).toDF("id"))(())
        assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK,
          "an inner scope dropped the outer cache")
      }
    }
    val rdd = spark.sparkContext.parallelize(1 to 10, 2)
    leavesNothing("a scope around a pin") {
      val p = Materialize.pin(df)
      val r = Materialize.pin(rdd)
      try {
        Materialize.withCached(p, r)(p.count() + r.count())
        assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK,
          "a scope dropped the caller's pinned Dataset")
        assert(r.getStorageLevel == StorageLevel.MEMORY_AND_DISK,
          "a scope dropped the caller's pinned RDD")
      } finally {
        Materialize.release(p)
        Materialize.release(r)
      }
    }
  }

  test("withCached runs no job") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
    assert(jobsLaunchedBy(Materialize.withCached(df)(())) == 0)
  }

  test("withTempDir deletes its tree on a normal and a throwing body") {
    def fill(dir: String): Unit = {
      Files.createDirectories(Paths.get(dir, "a", "b"))
      Files.write(Paths.get(dir, "a", "b", "f.txt"), "x".getBytes)
    }
    var seen = ""
    val out = Materialize.withTempDir("materialize_spec") { dir =>
      seen = dir; fill(dir); 42
    }
    assert(out == 42 && seen.nonEmpty && !Files.exists(Paths.get(seen)))
    intercept[IllegalStateException] {
      Materialize.withTempDir("materialize_spec") { dir =>
        seen = dir; fill(dir)
        throw new IllegalStateException("boom")
      }
    }
    assert(!Files.exists(Paths.get(seen)))
  }

  test("barrier: one LogicalRDD leaf, built by exactly one job, freed by release") {
    val df = spark.range(0, 1000, 1, 4).select(col("id"), (col("id") * 2).as("x"))
    leavesNothing("a released barrier") {
      var b: DataFrame = null
      assert(jobsLaunchedBy { b = Materialize.barrier(df) } == 1)
      val plan = b.queryExecution.analyzed
      assert(plan.isInstanceOf[LogicalRDD], plan.treeString)
      val rdd = plan.asInstanceOf[LogicalRDD].rdd
      assert(persistedRdds.contains(rdd.id))
      assert(b.agg(sum(col("x"))).head().getLong(0) == 999L * 1000L)
      Materialize.release(b)
      assert(!persistedRdds.contains(rdd.id))
      assert(rdd.getStorageLevel == StorageLevel.NONE)
    }
  }

  test("a failed barrier frees its blocks") {
    leavesNothing("a failed barrier") {
      poisoned(Materialize.barrier(poison(spark.range(0, 100, 1, 4).toDF("id"), "id")))
    }
  }

  test("pin caches and fills, release frees it; a failed fill drops the cache") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
    leavesNothing("a released pin") {
      var p: DataFrame = null
      assert(jobsLaunchedBy { p = Materialize.pin(df) } > 0)
      assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(jobsLaunchedBy(p.collect()) == 1)
      Materialize.release(p)
    }
    leavesNothing("a failed pin") {
      poisoned(Materialize.pin(poison(df, "id")))
    }
  }

  test("iterate releases each superseded generation, and the live one on a throw") {
    leavesNothing("a finished chain, its last generation released") {
      val first = Materialize.pin(spark.range(0, 10, 1, 2).toDF("id"))
      val last = Materialize.iterate(first, 3) { cur =>
        Materialize.pin(cur.select((col("id") + 1).as("id")))
      }
      assert(last.agg(max(col("id"))).head().getLong(0) == 12L)
      Materialize.release(last)
    }
    leavesNothing("a chain whose step throws") {
      intercept[IllegalStateException] {
        Materialize.iterate(Materialize.pin(spark.range(0, 10, 1, 2).toDF("id")), 3) { cur =>
          if (cur.agg(max(col("id"))).head().getLong(0) > 9L)
            throw new IllegalStateException("boom")
          Materialize.pin(cur.select((col("id") + 1).as("id")))
        }
      }
    }
  }

  // ---- operators that pin through it ----

  // fixtures are RDD-backed: over a local relation the optimizer would
  // evaluate the poison while planning, before any operator pins
  private def rows[T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](xs: Seq[T]) =
    spark.createDataset(spark.sparkContext.parallelize(xs, 2))

  private lazy val emb: DataFrame = {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextGaussian() * 5))
    rows(for (c <- 0 until 4; i <- 0 until 15) yield
      ((c * 15 + i).toLong, centers(c).map(v => v + rnd.nextGaussian() * 0.2).toSeq))
      .toDF("vec_id", "embedding")
  }
  private def queries(corpus: DataFrame) = corpus.filter(col("vec_id") % 10 === 0)

  private lazy val docs: DataFrame = {
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    rows((0 until 40).map { i =>
      val text = (0 until 12).map(j => vocab((i * 7 + j * 3) % vocab.size)).mkString(" ")
      (i.toLong, if (i % 5 < 2) text + " click here free offer" else text)
    }).toDF("doc_id", "text")
  }

  test("Dedup.semanticDedup releases its working caches; the verdict is one pin") {
    leavesNothing("a good run") {
      val res = Dedup.semanticDedup(emb, nlist = 2, threshold = 0.95)
      assert(res.count() == 60)
      Materialize.release(res)
    }
    leavesNothing("a poisoned run") {
      poisoned(Dedup.semanticDedup(poison(emb, "embedding"), nlist = 2, threshold = 0.95))
    }
  }

  test("Similarity.graphTopK releases the build caches and the traversal's edges") {
    leavesNothing("a good run") {
      val out = Similarity.graphTopK(emb, queries(emb), k = 3, g = 4, beam = 8,
        hops = 1, nlist = 4)
      assert(out.count() > 0)
      Materialize.release(out) // the final frontier barrier
    }
    leavesNothing("a run poisoned in the build") {
      poisoned(Similarity.graphTopK(poison(emb, "vec_id"), queries(emb), k = 3, g = 4,
        beam = 8, hops = 1, nlist = 4))
    }
    leavesNothing("a run poisoned in the traversal") {
      poisoned(Similarity.graphTopK(emb, poison(queries(emb), "embedding", row = 10L), k = 3, g = 4,
        beam = 8, hops = 1, nlist = 4))
    }
  }

  test("AnnIndex.buildGraphIndex releases the build caches") {
    leavesNothing("a good run") {
      Materialize.withTempDir("materialize_graph") { dir =>
        AnnIndex.buildGraphIndex(emb, dir, g = 4, nlist = 3, nBuckets = 4)
        assert(Files.exists(Paths.get(dir, "edges")))
      }
    }
    leavesNothing("a poisoned run") {
      Materialize.withTempDir("materialize_graph") { dir =>
        poisoned(AnnIndex.buildGraphIndex(poison(emb, "vec_id"), dir, g = 4, nlist = 3,
          nBuckets = 4))
      }
    }
  }

  test("Tokenizer.bpeLearn releases its word-frequency cache") {
    leavesNothing("a good run") {
      assert(Tokenizer.bpeLearn(docs, rounds = 3).count() == 3)
    }
    leavesNothing("a poisoned run") {
      poisoned(Tokenizer.bpeLearn(poison(docs, "text"), rounds = 3))
    }
  }

  test("Dedup.connectedComponentsStats releases its edges and rounds") {
    val pairs = rows(Seq((1L, 2L), (2L, 3L), (7L, 8L), (10L, 11L), (11L, 12L))).toDF("a", "b")
    leavesNothing("a good run, its labels released") {
      val r = Dedup.connectedComponentsStats(pairs)
      assert(r.converged && r.labels.count() == 8)
      Materialize.release(r.labels)
    }
    leavesNothing("a poisoned run") {
      poisoned(Dedup.connectedComponentsStats(poison(pairs, "b")))
    }
  }

  test("ModelSelection.trainQualityClassifier releases its features on a failed fit") {
    leavesNothing("a good run, its features released") {
      val (_, feats) = ModelSelection.trainQualityClassifier(docs,
        labelCol = pmod(col("doc_id"), lit(5)) >= 2, iterations = 3)
      assert(feats.count() == 40)
      Materialize.release(feats)
    }
    leavesNothing("a poisoned run") {
      poisoned(ModelSelection.trainQualityClassifier(poison(docs, "text"),
        labelCol = pmod(col("doc_id"), lit(5)) >= 2, iterations = 3))
    }
  }

  test("q_sketch_bloom releases its distinct-key cache") {
    val bloom = graft.SparkEntry.queries("q_sketch_bloom")
    // the key reads a table, so the poison is a second part file whose
    // l_orderkey is a string: the scan of one of the two files fails
    Materialize.withTempDir("materialize_bloom") { dir =>
      val li = spark.range(1, 2001, 1, 2).select(col("id").as("l_orderkey"),
        lit(java.sql.Date.valueOf("1995-01-01")).as("l_shipdate"))
      li.write.parquet(s"$dir/good/lineitem.parquet")
      leavesNothing("a good run") {
        assert(bloom(spark, s"$dir/good").head().getBoolean(1))
      }
      li.write.parquet(s"$dir/bad/lineitem.parquet")
      li.withColumn("l_orderkey", concat(lit(Poison), col("l_orderkey").cast("string")))
        .write.mode("append").parquet(s"$dir/bad/lineitem.parquet")
      leavesNothing("a poisoned run") {
        intercept[Exception](bloom(spark, s"$dir/bad").head())
      }
    }
  }
}
