package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}

/** Incremental maintenance of the stored BM25 index
  * ([[Retrieval.appendIndex]]) — the lexical counterpart of
  * `AnnAppendSpec`. Three contracts:
  *
  *  1. EXACT rebuild parity: build(A) + append(B) serves the same
  *     top-k, bit for bit, as build(A ∪ B) and as the inline
  *     [[Retrieval.bm25TopK]] — the derived-df serving path makes
  *     the segment-local stored df irrelevant to scores;
  *  2. byte survival: an append whose terms hash to a strict subset
  *     of buckets leaves every pre-existing postings file
  *     byte-identical and creates new files only under the touched
  *     buckets — the 100 TB claim that a daily batch rewrites
  *     nothing;
  *  3. the serving scan's read schema carries neither `text` (never
  *     in the index) nor `df` (derived from the scan).
  */
class RetrievalAppendSpec extends SparkTestBase {

  private val nBuckets = 8

  private def corpus = {
    import spark.implicits._
    (0 until 60).map { i =>
      (i.toLong, s"alpha${i % 5} shared beta${i % 7} filler word${i % 3} " +
        s"gamma${i % 11} shared tail${i % 2}")
    }.toDF("doc_id", "text")
  }

  private def qtermsOf(docs: org.apache.spark.sql.DataFrame): Seq[String] =
    Retrieval.dfCounts(docs)
      .filter(!col("term").isin("the", "a", "of", "and", "in"))
      .orderBy(col("df").desc, col("term")).limit(3)
      .collect().map(_.getString(0)).toSeq

  test("append + derived-df serving is bit-identical to a full rebuild") {
    val docs = corpus
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    Materialize.withTempDir("bm25_appendA") { dirA =>
      Materialize.withTempDir("bm25_appendB") { dirB =>
        Retrieval.buildIndex(docs, dirA, nBuckets = nBuckets, filesPerShard = 2)
        Retrieval.buildIndex(old, dirB, nBuckets = nBuckets, filesPerShard = 2)
        Retrieval.appendIndex(batch, dirB, nBuckets = nBuckets, filesPerShard = 2)

        // merged stats equal the full corpus's
        val sA = spark.read.parquet(s"$dirA/stats").collect().head
        val sB = spark.read.parquet(s"$dirB/stats").collect().head
        assert(sA.getAs[Long]("n_docs") == sB.getAs[Long]("n_docs"))
        assert(sA.getAs[Long]("sum_dl") == sB.getAs[Long]("sum_dl"))

        // full postings row sets agree on everything except the
        // segment-local df column
        val pA = spark.read.parquet(s"$dirA/postings").drop("df")
        val pB = spark.read.parquet(s"$dirB/postings").drop("df")
        assert(pA.except(pB).isEmpty && pB.except(pA).isEmpty)

        // served top-k: rebuild == append == inline, bit for bit
        val qterms = qtermsOf(docs)
        val servedA = Retrieval.bm25TopKFromIndex(spark, dirA, qterms,
          k = 10, nBuckets = nBuckets).collect().map(_.toSeq).toSeq
        val servedB = Retrieval.bm25TopKFromIndex(spark, dirB, qterms,
          k = 10, nBuckets = nBuckets).collect().map(_.toSeq).toSeq
        val inline = Retrieval.bm25TopK(docs, nQueryTerms = 3, k = 10)
          .collect().map(_.toSeq).toSeq
        assert(servedA == inline, "rebuild serving drifted from inline")
        assert(servedB == inline, "append serving drifted from rebuild/inline")
      }
    }
  }

  test("append touches only its terms' buckets; existing files survive byte-identical") {
    import spark.implicits._
    val docs = corpus
    Materialize.withTempDir("bm25_append_bytes") { dir =>
      Retrieval.buildIndex(docs, dir, nBuckets = nBuckets, filesPerShard = 2)

      // pick batch terms hashing into exactly 2 buckets so the
      // untouched-bucket claim is non-vacuous
      val cand = (0 until 40).map(i => s"zz$i")
      val bucketOf = cand.map { t =>
        t -> spark.range(1).select(pmod(hash(lit(t)), lit(nBuckets)))
          .head().getInt(0)
      }.toMap
      val targets = bucketOf.values.toSeq.distinct.sorted.take(2).toSet
      val batchTerms = cand.filter(t => targets.contains(bucketOf(t))).take(6)
      assert(batchTerms.size >= 2, "fixture: need at least two batch terms")
      val batch = Seq((1000L, batchTerms.mkString(" ")),
        (1001L, batchTerms.reverse.mkString(" "))).toDF("doc_id", "text")

      def snapshot(): Map[String, Array[Byte]] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(s"$dir/postings"))
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> Files.readAllBytes(f.toPath)).toMap
      }

      val before = snapshot()
      Retrieval.appendIndex(batch, dir, nBuckets = nBuckets, filesPerShard = 2)
      val after = snapshot()

      // every pre-existing file is still there, byte for byte
      before.foreach { case (path, bytes) =>
        assert(after.contains(path), s"append removed $path")
        assert(java.util.Arrays.equals(after(path), bytes),
          s"append rewrote $path")
      }
      // new files appear only under the touched buckets
      val newFiles = (after.keySet -- before.keySet).toSeq
      assert(newFiles.nonEmpty, "append wrote no postings")
      val touchedDirs = targets.map(b => s"term_bucket=$b")
      newFiles.foreach { f =>
        assert(touchedDirs.exists(f.contains),
          s"append wrote outside its buckets: $f (expected $touchedDirs)")
      }
      // and the appended docs are served: query one batch term
      val served = Retrieval.bm25TopKFromIndex(spark, dir,
        Seq(batchTerms.head), k = 10, nBuckets = nBuckets)
        .select("doc_id").as[Long].collect().toSet
      assert(served == Set(1000L, 1001L), s"batch docs not served: $served")
    }
  }

  test("serving read schema carries neither text nor df") {
    val docs = corpus
    Materialize.withTempDir("bm25_readschema") { dir =>
      Retrieval.buildIndex(docs, dir, nBuckets = nBuckets, filesPerShard = 2)
      val served = Retrieval.bm25TopKFromIndex(spark, dir, qtermsOf(docs),
        k = 10, nBuckets = nBuckets)
      val plan = served.queryExecution.executedPlan.toString
      val reads = plan.linesIterator.filter(_.contains("ReadSchema")).toList
      assert(reads.nonEmpty, s"no ReadSchema in plan:\n$plan")
      val postRead = reads.filter(_.contains("term"))
      assert(postRead.nonEmpty)
      postRead.foreach { l =>
        assert(!l.contains("text"), s"serving scan reads text: $l")
        assert(!l.contains("df"), s"serving scan reads stored df: $l")
      }
    }
  }
}
