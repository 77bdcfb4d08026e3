package graft.operators

import org.apache.spark.sql.functions._

import graft.{Materialize, SparkTestBase}

/** The stored-BM25 scale claim made concrete (the lexical analogue
  * of `IvfqLayoutSpec`): build the term-bucketed postings index once
  * ([[Retrieval.buildIndex]]), and prove a served query physically
  * touches ONLY its query terms' buckets, reads a postings-only
  * schema with no text column anywhere, and scores bit-identically
  * to the self-contained [[Retrieval.bm25TopK]] on the same terms. */
class RetrievalLayoutSpec extends SparkTestBase {

  private val nBuckets = 8

  private def corpus = {
    import spark.implicits._
    (0 until 60).map { i =>
      (i.toLong, s"alpha${i % 5} shared beta${i % 7} filler word${i % 3} " +
        s"gamma${i % 11} shared tail${i % 2}")
    }.toDF("doc_id", "text")
  }

  test("a served query reads only its terms' buckets and never any text") {
    val docs = corpus
    Materialize.withTempDir("bm25_index") { dir =>
      Retrieval.buildIndex(docs, dir, nBuckets = nBuckets, filesPerShard = 2)
      val stored = spark.read.parquet(s"$dir/postings")
      // the index carries no text at all — nothing a serving scan
      // COULD read beyond postings
      assert(stored.columns.toSet ==
        Set("term", "df", "doc_id", "dl", "tf", "term_bucket"))

      // same term-derivation rule as bm25TopK, so results comparable
      val qterms = Retrieval.dfCounts(docs)
        .filter(!col("term").isin("the", "a", "of", "and", "in"))
        .orderBy(col("df").desc, col("term")).limit(3)
        .collect().map(_.getString(0)).toSeq
      val served = Retrieval.bm25TopKFromIndex(spark, dir, qterms,
        k = 10, nBuckets = nBuckets)

      // plan evidence: the postings scan prunes on the partition
      // column (constant-folded bucket ids — no discovery job) and
      // pushes the term filter into the remaining files
      val plan = served.queryExecution.executedPlan.toString
      val scanLines = plan.linesIterator.filter(_.contains("FileScan")).toList
      assert(scanLines.exists(_.contains("term_bucket")),
        s"no partition filter on term_bucket:\n$scanLines")
      assert(!plan.contains("text"),
        s"a serving plan mentioned the text column:\n$plan")

      // file evidence: the scan opens files only under the queried
      // buckets' directories — a strict subset of all buckets
      val wantDirs = qterms.map(t =>
        s"term_bucket=${spark.range(1).select(
          pmod(hash(lit(t)), lit(nBuckets))).head().getInt(0)}").toSet
      val filesRead = spark.read.parquet(s"$dir/postings")
        .filter(Retrieval.termBucketPredicate(qterms, nBuckets)
          && col("term").isin(qterms: _*))
        .select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSet
      val allDirs = new java.io.File(s"$dir/postings").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(filesRead.nonEmpty)
      assert(filesRead.forall(f => wantDirs.exists(f.contains)),
        s"scan opened an unqueried bucket's file: $filesRead vs $wantDirs")
      assert(wantDirs.size < allDirs.size,
        s"fixture too small to prove pruning: ${wantDirs.size} of ${allDirs.size} buckets queried")

      // and the served scores are bit-identical to the inline path
      val inline = Retrieval.bm25TopK(docs, nQueryTerms = 3, k = 10)
        .collect().map(_.toSeq).toSeq
      assert(served.collect().map(_.toSeq).toSeq == inline)
    }
  }

  test("denormalized df/dl on the postings rows match the inline derivations") {
    val docs = corpus
    Materialize.withTempDir("bm25_index2") { dir =>
      Retrieval.buildIndex(docs, dir, nBuckets = nBuckets, filesPerShard = 1)
      val stored = spark.read.parquet(s"$dir/postings")
      // df per term matches dfCounts over the corpus
      val dfStored = stored.select("term", "df").distinct()
      val dfInline = Retrieval.dfCounts(docs)
      assert(dfStored.except(dfInline).isEmpty && dfInline.except(dfStored).isEmpty)
      // dl per doc matches the tokenizer length; one dl per doc_id
      val dlStored = stored.select("doc_id", "dl").distinct()
      val dlInline = docs.select(col("doc_id"),
        size(TextOps.regexTokens(col("text"))).cast("long").as("dl"))
      assert(dlStored.except(dlInline).isEmpty && dlInline.except(dlStored).isEmpty)
    }
  }
}
