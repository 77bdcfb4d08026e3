package graft.tools

import graft.{SparkEntry, SparkTestBase}

/** The engine record behind [[Prof]]: on a fixed key and fixture it
  * reports pinned job and stage counts, and two back-to-back records
  * agree, which holds only if the listener-bus wait delivers every job
  * end, stage and task of a window before it is read. */
class ProfSpec extends SparkTestBase {

  test("a key's record pins its jobs and stages, and back-to-back records agree") {
    val listener = new Prof.Listener
    spark.sparkContext.addSparkListener(listener)
    try {
      val key = SparkEntry.queries("q_join_agg")
      val records = (1 to 2).map { _ =>
        val (rows, rec) = Prof.record(spark, listener)(key(spark, "/root/testdata/sf0.001").count())
        assert(rows > 0)
        rec
      }
      records.foreach { r =>
        assert(r.jobs.forall(_.end != Long.MaxValue), s"a job end is missing: ${r.jobs}")
        assert(r.jobs.forall(_.site.nonEmpty))
        assert(r.inJobS <= r.wallS && r.driverGapS >= 0)
      }
      val shape = records.map(r => (r.jobs.size, r.stages, r.tasks, r.singleTaskStages))
      assert(shape(0) == shape(1))
      assert((records(0).jobs.size, records(0).stages) == (10, 10))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
