package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The dependency-free Bench-JSON field scanner behind BenchDiff. */
class BenchDiffSpec extends AnyFunSuite {

  private val sample =
    """{"metric":"total","value":110.763,"unit":"sec","queries":{"q_a":0.133,
      |"q_b":3.668,"q_c":4.88},"canary_mops_pre":1507.5,"canary_mops_post":1394.5,
      |"par_mops_pre":44578.5,"canary_floor":600.0,"starved":[],"failed":[],
      |"sf":"/root/repo/data/sf1"}""".stripMargin.replace("\n", "")

  test("queries sub-object and top-level scalars parse separately") {
    val (top, queries) = BenchDiff.parse(sample)
    assert(queries === Map("q_a" -> 0.133, "q_b" -> 3.668, "q_c" -> 4.88))
    assert(top("value") === 110.763)
    assert(top("canary_mops_pre") === 1507.5)
    assert(top("canary_floor") === 600.0)
    // query names must NOT leak into the top-level map
    assert(!top.contains("q_a"))
  }

  test("a pin with no queries object yields empty queries") {
    val (top, queries) = BenchDiff.parse("""{"value":1.5,"unit":"sec"}""")
    assert(queries.isEmpty)
    assert(top("value") === 1.5)
  }

  test("Bench's file line carries every key and its compact stdout line fits the tail window") {
    val keys = graft.SparkEntry.queries.keySet.toSeq.sorted
    val results = keys.zipWithIndex.map { case (k, i) => k -> (0.1 + i * 0.0137) }
    val summary = graft.Bench.Summary(results, runs = 2, canaryFloor = 600,
      parFloor = 3000, mopsPre = 1500, mopsPost = 1490, parPre = 5900, parPost = 6000,
      starved = Seq("q_retrieval_hybrid_stored"), failed = Seq("q_ann_upsert"),
      sfDir = "/data/sf0.1")
    val (fileTop, fileQueries) = BenchDiff.parse(summary.full)
    assert(fileQueries.keySet == keys.toSet && fileQueries.size == 137)
    assert(math.abs(fileQueries("q_dedup_minhash") - results.toMap.apply("q_dedup_minhash")) < 0.0005)
    val (top, queries) = BenchDiff.parse(summary.compact)
    assert(queries.isEmpty && top("n_queries") == 137)
    assert(top("value") == fileTop("value"))
    Seq("canary_mops_pre", "canary_mops_post", "par_mops_pre", "par_mops_post")
      .foreach(k => assert(top.contains(k), k))
    // a run's result is read from the last ~2,000 characters of stdout,
    // which end with this line and sbt's closing status line
    val sbtTail = "[success] Total time: 1018 s (16:58), completed Aug 18, 2026, 8:07:19 AM"
    assert(summary.compact.length + sbtTail.length + 2 <= 2000)
    assert(!summary.compact.contains('\n'))
  }
}
