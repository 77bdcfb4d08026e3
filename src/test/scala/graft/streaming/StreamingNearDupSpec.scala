package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.{Dedup, MinHash}

/** FUZZY incremental admission, batch and stream: the one admission
  * plan must return the fixture's stated verdicts whether it runs as a
  * batch, as a micro-batched stream, or across a checkpointed restart
  * (verdicts depend only on the static index, so arrival order cannot
  * matter — asserted, not assumed). The MinHash kernel is pinned bit
  * for bit to the columnar Spark-`hash()` definition kept here. */
class StreamingNearDupSpec extends SparkTestBase {

  import spark.implicits._

  private val base =
    "spark filter join group order window scan sort hash value batch " +
      "stream table column vector query key line part data small"
  private def mutate(text: String, n: Int, tag: String): String = {
    val toks = text.split(" ")
    toks.indices.take(n).foreach(i => toks(i) = s"$tag$i")
    toks.mkString(" ")
  }

  private def indexDf = Seq(
    (100L, base),
    (101L, mutate(base, 18, "far")), // far from base
    (102L, "tiny doc")               // <3 tokens: no shingles, no bands
  ).toDF("doc_id", "text")

  // 1-2 mutated tokens keep Jaccard well above 0.5; 18 push it below
  private val streamDocs = Seq(
    (1L, mutate(base, 1, "x")),   // near-dup of 100
    (2L, mutate(base, 18, "y")),  // novel (low Jaccard to everything)
    (3L, base),                   // exact text of 100 → near-dup
    (4L, mutate(base, 2, "z")),   // near-dup of 100
    (5L, "qq ww")                 // no shingles → novel
  )

  /** The fixture's verdicts, as its comments state them. */
  private val expected = Map(
    1L -> (("near_dup", Some(100L), false)),
    2L -> (("novel", None, true)),
    3L -> (("near_dup", Some(100L), false)),
    4L -> (("near_dup", Some(100L), false)),
    5L -> (("novel", None, true)))

  private def verdicts(df: DataFrame): Map[Long, (String, Option[Long], Boolean)] =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[String]("status"), Option(r.getAs[java.lang.Long]("match_id")).map(_.toLong),
        r.getAs[Boolean]("keep")))).toMap

  /** The columnar Spark-SQL MinHash the kernel must reproduce:
    * word-3-shingles by posexplode + lead over `split(text, " ")`,
    * permutation k = min pmod(base·(2k+1) + k·40503, 2^31−1) with base
    * = hash(s) & 0x7fffffff, band b = hash of the b-th signature slice. */
  private def columnarMinhash(docs: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val sh = docs.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w0")))
      .withColumn("w1", lead(col("w0"), 1).over(w))
      .withColumn("w2", lead(col("w0"), 2).over(w))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w0"), col("w1"), col("w2")).as("s"))
      .distinct()
      .withColumn("h", hash(col("s")).cast("long").bitwiseAND(lit(0x7fffffffL)))
    val sig = array((0 until numBands * rowsPerBand).map(k =>
      min(pmod(col("h") * (2 * k + 1) + lit(k * 40503L), lit(2147483647L)))): _*)
    sh.groupBy(col("doc_id")).agg(sig.as("sig"), collect_set(col("s")).as("shingles"))
      .withColumn("bands", transform(sequence(lit(0), lit(numBands - 1)),
        b => hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
  }

  test("MinHash kernel is bit-identical to the columnar reference") {
    val texts = (indexDf.collect().map(r => (r.getLong(0), r.getString(1))) ++ streamDocs ++ Seq(
      (10L, "a  b c d"),              // empty token between the spaces
      (11L, " lead and trail "),     // empty first and last tokens
      (12L, "héllo wörld ñ größe 東京 x"), // multi-byte UTF-8
      (13L, "a b c a b c a b c"))).toSeq // repeated shingles
    val docs = texts.toDF("doc_id", "text")
    for ((numBands, rowsPerBand) <- Seq((16, 2), (8, 4))) {
      val ref = columnarMinhash(docs, numBands, rowsPerBand).collect()
        .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Seq[Long]]("sig").toList,
          r.getAs[Seq[Int]]("bands").toList, r.getAs[Seq[String]]("shingles").toSet))).toMap
      val viaDedup = Dedup.minhash(docs, numBands, rowsPerBand).collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Long](1).toList, r.getSeq[Int](2).toList))).toMap
      val rowsOf = Dedup.shingleRows(docs).collect()
        .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getString(1)).toList }
      texts.foreach { case (id, text) =>
        val sh = MinHash.shingles(text)
        val sig = MinHash.signature(sh, numBands * rowsPerBand).toList
        val bands = MinHash.bandKeys(sig.toArray, numBands, rowsPerBand).toList
        ref.get(id) match {
          case Some((rSig, rBands, rSh)) =>
            assert(sh.toSet == rSh && sh.length == rSh.size, s"shingles diverge for doc $id")
            assert(sig == rSig, s"signature diverges for doc $id")
            assert(bands == rBands, s"band keys diverge for doc $id")
            assert(viaDedup(id) == ((rSig, rBands)), s"Dedup.minhash diverges for doc $id")
            assert(rowsOf(id).sorted == rSh.toList.sorted, s"shingleRows diverges for doc $id")
          case None => // the reference drops shingle-less docs; so do the kernel and minhash
            assert(sh.isEmpty && sig.isEmpty && bands.isEmpty && !viaDedup.contains(id))
        }
      }
    }
  }

  test("batch call returns the fixture's literal verdicts") {
    val batchDocs = streamDocs.toDF("doc_id", "text")
    assert(verdicts(Dedup.incrementalNearDup(batchDocs, indexDf)) == expected)
    val got = StreamingNearDupAdmission.admission(batchDocs, indexDf).collect()
      .map(v => v.doc_id -> ((v.status, v.match_id, v.keep))).toMap
    assert(got == expected)
  }

  test("null text is novel in a batch call and in a micro-batch") {
    val index = indexDf.union(Seq((103L, null: String)).toDF("doc_id", "text"))
    val docs = Seq((7L, null: String), streamDocs(0))
    val want = Map(7L -> (("novel", None, true)), 1L -> expected(1L))
    assert(verdicts(Dedup.incrementalNearDup(docs.toDF("doc_id", "text"), index)) == want)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = StreamingNearDupAdmission.admission(stream.toDS().toDF("doc_id", "text"), index)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_null_out").start()
    try {
      stream.addData(docs: _*)
      q.processAllAvailable()
      assert(verdicts(spark.table("neardup_null_out")) == want)
    } finally q.stop()
  }

  test("checkpointed restart resumes fuzzy admission without re-emitting verdicts") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = suiteDir("graft_neardup")
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(in).mkdirs()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def start() = {
      val stream = spark.readStream.schema(schema).parquet(in)
      StreamingNearDupAdmission.admission(stream, indexDf)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .start()
    }
    // batch 1 before first start
    streamDocs.take(2).toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // batch 2 lands while the query is DOWN; restart must pick it up
    // from the checkpoint and emit each verdict exactly once
    streamDocs.drop(2).toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.parquet(out)
    assert(rows.count() == streamDocs.size, "expected one verdict per doc")
    assert(verdicts(rows) == expected)
  }

  test("micro-batched stream produces the same verdicts as one batch") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = StreamingNearDupAdmission.admission(
        stream.toDS().toDF("doc_id", "text"), indexDf)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_out").start()
    try {
      stream.addData(streamDocs(0), streamDocs(1))
      q.processAllAvailable()
      stream.addData(streamDocs(2))
      q.processAllAvailable()
      stream.addData(streamDocs(3), streamDocs(4))
      q.processAllAvailable()
      val out = spark.table("neardup_out")
      assert(out.count() == streamDocs.size, "expected one verdict per doc")
      assert(verdicts(out) == expected)
    } finally q.stop()
  }
}
