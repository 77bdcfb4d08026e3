package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Focused spec for the r16 family-resolution restructure: the
  * media dedups now derive exact-content families (rep = min doc_id
  * per identical content key) through ONE window-min instead of
  * groupBy + left_semi + join-back. This pins the equivalence on an
  * adversarial in-memory fixture — multi-member families, singleton
  * families, out-of-order ids, and an undecodable (absent) member —
  * by checking the window form against the old groupBy reference
  * formulation row for row. */
class FamilyResolutionSpec extends SparkTestBase {

  test("window-min family resolution equals the groupBy reference") {
    val s = spark
    import s.implicits._
    // thumbs fixture: three families (A appears at ids 7,3,9 — min 3;
    // B at 5; C at 8,2 — min 2), ids deliberately out of order
    // family contents far apart (mean-abs distance way above the 600
    // e2 verify bound, channel sums outside the pre-filter margin) so
    // the near stage cannot merge families and the verdict isolates
    // the exact stage under test
    // (full 216-cell image frames, so the near stage runs for real)
    def frame(v: Int) = Seq.fill(ImageDedup.Cells)(v)
    val thumbs = Seq(
      (7L, frame(0)), (3L, frame(0)), (9L, frame(0)),
      (5L, frame(1000)),
      (8L, frame(2000)), (2L, frame(2000)))
      .toDF("doc_id", "thumb")
    // the full id universe includes 11, which never decoded (no
    // thumb row) — it must come out keep=true, match_id=null
    val ids = Seq(7L, 3L, 9L, 5L, 8L, 2L, 11L).toDF("doc_id")

    // window form: the shipped exact stage, MediaDedup.families
    val withRep = ImageDedup.families(thumbs.withColumnRenamed("thumb", "fr"))
      .withColumnRenamed("fr", "thumb")
    val repsWindow = withRep.filter(col("doc_id") === col("rep"))
      .select(col("doc_id")).as[Long].collect().sorted

    // groupBy reference (the pre-r16 formulation)
    val fams = thumbs.groupBy(col("thumb")).agg(min(col("doc_id")).as("rep"))
    val repsGroup = thumbs.join(fams.select(col("rep").as("doc_id")),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id")).as[Long].collect().sorted
    assert(repsWindow.toSeq == Seq(2L, 3L, 5L))
    assert(repsWindow.toSeq == repsGroup.toSeq)

    // member→rep mapping identical between the two formulations
    val mapWindow = withRep.select(col("doc_id"), col("rep"))
      .as[(Long, Long)].collect().toMap
    val mapGroup = thumbs.join(fams, Seq("thumb"))
      .select(col("doc_id"), col("rep"))
      .as[(Long, Long)].collect().toMap
    assert(mapWindow == mapGroup)
    assert(mapWindow(9L) == 3L && mapWindow(8L) == 2L && mapWindow(5L) == 5L)

    // and the end-to-end verdict (no near stage fires here: families
    // are exact-only, pairwise distant) keeps exactly the reps plus
    // the undecodable id
    // every print shares all 8 bucket keys (hash 0, grid keys 0/1), so
    // every rep pair is a candidate and only the verify separates them
    val keys = MediaDedup.bucketKeys(MediaDedup.Frame(Array.empty, Array.empty, 0L, 0L, 1L))
    val prints = thumbs.select(col("doc_id"), col("thumb").as("fr"),
        array((1 to 3).map(c => element_at(col("thumb"), c).cast("long") * 72): _*).as("sm"))
      .crossJoin(Seq(keys.toArray).toDF("keys"))
    val verdict = ImageDedup.dedupFromFamilies(ids, ImageDedup.families(prints))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getBoolean(2))).toMap
    assert(verdict(11L) == (None, true)) // undecodable: kept
    assert(verdict(3L)._2 && verdict(2L)._2 && verdict(5L)._2) // reps kept
    assert(verdict(7L) == (Some(3L), false)) // members dropped to rep
    assert(verdict(9L) == (Some(3L), false))
    assert(verdict(8L) == (Some(2L), false))
  }
}
