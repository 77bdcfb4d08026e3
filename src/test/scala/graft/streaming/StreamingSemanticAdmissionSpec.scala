package graft.streaming

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** SEMANTIC admission, batch and stream ([[VectorAdmissionBehaviour]]):
  * `Dedup.incrementalSemanticAdmission` against one stored index
  * returns the fixture's literal verdict table however it runs. */
class StreamingSemanticAdmissionSpec extends VectorAdmissionBehaviour {

  import spark.implicits._

  // 3 direction clusters, 8 dims (the SemanticIndexSpec fixture)
  private def corpusDF = {
    (0 until 60).map { i =>
      val base = Array.fill(8)(0.0)
      base(i % 3) = 10.0
      base(3 + i % 5) = 1.0 + (i % 7) * 0.1
      (i.toLong, base.toSeq)
    }.toDF("vec_id", "embedding")
  }

  private lazy val dir = {
    val d = suiteDir("graft_sem_adm")
    Dedup.buildSemanticIndex(corpusDF, nlist = 4, d)
    d
  }

  private lazy val rows: Rows = {
    def stored(id: Long) = corpusDF.filter(col("vec_id") === id)
      .select(col("embedding")).head().getSeq[Double](0).toSeq
    val c7 = stored(7L)
    Seq(
      (100L, c7.map(_ + 0.001)),                              // near-dup of cluster around 7
      (101L, c7),                                             // exact copy
      (200L, Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 9.0)),    // novel direction
      (300L, Seq.fill(8)(0.0)),                               // zero vector: novel, no crash
      (400L, null),                                           // null embedding: novel
      (0L, stored(0L)))                                       // stored vector 0: not its own witness
  }

  /** The verdicts of the fixture, as the two-plan admission gave them. */
  private val expected: Verdicts = Map(
    100L -> (("near_dup", Some(1L), false)),
    101L -> (("near_dup", Some(1L), false)),
    200L -> (("novel", None, true)),
    300L -> (("novel", None, true)),
    400L -> (("novel", None, true)),
    0L -> (("near_dup", Some(3L), false)))

  private def admit(vecs: org.apache.spark.sql.DataFrame) =
    Dedup.incrementalSemanticAdmission(vecs, corpusDF, dir, threshold = 0.9)

  test("streaming verdicts equal batch verdicts per arrival pattern; state stays empty") {
    assertBatchAndStreams("sem", admit, rows, "double", expected)
  }

  test("checkpointed restart resumes admission without re-emitting verdicts") {
    assertRestart("sem", admit, rows, "double", expected)
  }
}
