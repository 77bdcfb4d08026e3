package graft.streaming

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** EMBEDDING admission, batch and stream ([[VectorAdmissionBehaviour]]):
  * `Dedup.incrementalEmbeddingAdmission` returns the fixture's literal
  * verdict table however it runs, for `array<float>` and
  * `array<double>` embeddings alike. */
class StreamingEmbeddingAdmissionSpec extends VectorAdmissionBehaviour {

  import spark.implicits._

  private val dim = 16
  // float-valued doubles: the array<float> and array<double> runs see
  // the same vectors
  private def vec(seed: Int): Seq[Double] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(dim)(rnd.nextGaussian().toFloat.toDouble)
  }
  private def near(v: Seq[Double], eps: Float): Seq[Double] =
    v.zipWithIndex.map { case (x, i) => (x.toFloat + eps * (i % 3 - 1)).toDouble }

  private val base = vec(7)
  private val other = vec(11)
  // a null stored vector shares the null and zero rows' all-ones
  // buckets, so those rows vote against it and must stay novel
  private val indexRows: Rows = Seq((100L, base), (101L, other), (102L, vec(13)), (103L, null))

  private val rows: Rows = Seq(
    (1L, near(base, 0.01f)),  // near-dup of 100
    (2L, vec(99)),            // novel (independent gaussian)
    (3L, base),               // exact copy of 100
    (4L, near(other, 0.02f)), // near-dup of 101
    (5L, Seq.fill(dim)(0.0)), // zero vector: novel, no crash
    (6L, null),               // null embedding: novel
    (102L, vec(13)))          // stored vector 102: not its own witness

  /** The verdicts of the fixture, as the two-plan admission gave them. */
  private val expected: Verdicts = Map(
    1L -> (("near_dup", Some(100L), false)),
    2L -> (("novel", None, true)),
    3L -> (("near_dup", Some(100L), false)),
    4L -> (("near_dup", Some(101L), false)),
    5L -> (("novel", None, true)),
    6L -> (("novel", None, true)),
    102L -> (("novel", None, true)))

  private val elems = Seq("float", "double")

  private def admit(elem: String)(vecs: org.apache.spark.sql.DataFrame) =
    Dedup.incrementalEmbeddingAdmission(vecs, rowsDF(indexRows, elem), dim = dim,
      threshold = 0.9)

  test("per-row bucket keys are bit-identical to the batch LSH bucket expressions") {
    val planes = Similarity.hyperplanes(dim, 2 * 8, 42L)
    val all = (indexRows ++ rows).filter(_._2 != null).map { case (id, v) =>
      (id, v.map(_.toFloat)) }
    val columnar = all.toDF("vec_id", "embedding")
      .select(col("vec_id"), array((0 until 8).map(t =>
        Similarity.lshBucket(col("embedding").cast("array<double>"),
          planes.slice(t * 2, (t + 1) * 2))): _*))
      .as[(Long, Seq[Long])].collect().toMap
    all.foreach { case (id, v) =>
      val mine = Similarity.bucketsOf(v.map(_.toDouble).toArray, planes, 2, 8).toSeq
      assert(mine == columnar(id), s"bucket keys diverge for vec $id")
    }
  }

  test("streaming verdicts equal batch verdicts for every arrival pattern; state stays empty") {
    elems.foreach(e => assertBatchAndStreams("embed", admit(e), rows, e, expected))
  }

  test("checkpointed restart resumes admission without re-emitting verdicts") {
    elems.foreach(e => assertRestart(s"embed_$e", admit(e), rows, e, expected))
  }

  test("dim is required and positive") {
    val e = intercept[IllegalArgumentException](
      Dedup.incrementalEmbeddingAdmission(rowsDF(rows, "float"), rowsDF(indexRows, "float"),
        dim = 0))
    assert(e.getMessage.contains("dim must be positive"))
  }
}
