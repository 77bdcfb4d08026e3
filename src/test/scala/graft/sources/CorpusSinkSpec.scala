package graft.sources

import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}

/** Corpus sink layout contract: partition dirs per shard, bounded
  * file fan-out, id-sorted rows inside every file, lossless
  * round-trip. */
class CorpusSinkSpec extends SparkTestBase {

  test("partitioned write: layout, bounded files, sorted rows, round-trip") {
    import spark.implicits._
    val docs = (1L to 300L).map(i => (i, s"src${i % 3}", s"text $i"))
      .toDF("doc_id", "source", "text")
    Materialize.withTempDir("corpus_sink") { dir =>
      CorpusSink.writeParquet(docs, dir, filesPerShard = 4)

      // one partition dir per shard value
      val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName).toSet
      assert(dirs == Set("source=src0", "source=src1", "source=src2"))

      // bounded fan-out per shard dir
      dirs.foreach { d =>
        val files = new java.io.File(s"$dir/$d").listFiles()
          .filter(_.getName.endsWith(".parquet"))
        assert(files.nonEmpty && files.length <= 4,
          s"$d has ${files.length} files")
      }

      // rows inside a single file are id-sorted (row-group stats prune)
      val oneFile = new java.io.File(s"$dir/source=src0").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getPath
      val ids = spark.read.parquet(oneFile).select("doc_id")
        .collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sorted), "rows not sorted within file")

      // lossless round-trip (partition column comes back typed string)
      val back = spark.read.parquet(dir)
        .select(col("doc_id"), col("source"), col("text"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val orig = docs.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(back == orig)
    }
  }

  test("refreshShards rewrites only the refreshed shard's partition") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, s"src${i % 2}", s"text $i"))
      .toDF("doc_id", "source", "text")
    Materialize.withTempDir("corpus_refresh") { dir =>
      CorpusSink.writeParquet(docs, dir, filesPerShard = 2)
      def snapshot(shard: String) =
        new java.io.File(s"$dir/source=$shard").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length, f.lastModified)).toSet
      val src0Before = snapshot("src0")

      // re-curate src1 only: fewer docs, new text
      val fresh = (1L to 40L).map(i => (1000L + i, "src1", s"fresh $i"))
        .toDF("doc_id", "source", "text")
      CorpusSink.refreshShards(fresh, dir, filesPerShard = 2)

      // src0's files are byte-for-byte untouched (same names, sizes,
      // mtimes); src1 now holds ONLY the fresh rows
      assert(snapshot("src0") == src0Before, "untouched shard was rewritten")
      val back = spark.read.parquet(dir)
      val src1Ids = back.filter(col("source") === "src1")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(src1Ids == (1L to 40L).map(1000L + _).toSet)
      // src0 rows still read back in full
      assert(back.filter(col("source") === "src0").count() == 100L)
    }
  }

  test("upsertShards replaces by id, inserts the rest, leaves untouched shards byte-identical") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, s"src${i % 4}", s"text $i"))
      .toDF("doc_id", "source", "text")
    Materialize.withTempDir("corpus_upsert") { dir =>
      CorpusSink.writeParquet(docs, dir, filesPerShard = 2)
      def snapshot(shard: String) =
        new java.io.File(s"$dir/source=$shard").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length, f.lastModified)).toSet
      val src2Before = snapshot("src2")
      val src3Before = snapshot("src3")

      // replace two existing docs in src0/src1, insert two new ones
      val batch = Seq(
        (4L, "src0", "revised 4"), (5L, "src1", "revised 5"),
        (1001L, "src0", "new 1001"), (1002L, "src1", "new 1002")
      ).toDF("doc_id", "source", "text")
      val touched = CorpusSink.upsertShards(batch, dir,
        shardCol = "source", idCol = "doc_id", filesPerShard = 2)
      assert(touched == Seq("src0", "src1"))
      assert(snapshot("src2") == src2Before && snapshot("src3") == src3Before,
        "an untouched shard was rewritten")
      val back = spark.read.parquet(dir)
      assert(back.count() == 202L) // 200 - 2 replaced + 2 replaced + 2 new
      assert(back.groupBy("doc_id").count().filter(col("count") > 1).isEmpty,
        "a replaced doc kept a stale version")
      val revised = back.filter(col("doc_id").isin(4L, 5L))
        .select("text").collect().map(_.getString(0)).toSet
      assert(revised == Set("revised 4", "revised 5"))
      // replay is a no-op
      CorpusSink.upsertShards(batch, dir, shardCol = "source",
        idCol = "doc_id", filesPerShard = 2)
      assert(spark.read.parquet(dir).count() == 202L)
    }
  }
}
