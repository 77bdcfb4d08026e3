package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** The sketch-family queries' bounded-error assertions must hold at
  * sf0.001 — the same invariants the DuckDB oracle checks at sf0.01
  * (every *_ok column TRUE, exact columns engine-independent). */
class SketchQueriesSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("hll distinct within 5% of exact") {
    val r = SparkEntry.queries("q_sketch_hll")(spark, sf).head()
    assert(r.getLong(0) > 0)
    assert(r.getBoolean(1), "HLL estimate outside 5% bound")
  }

  test("approx percentiles within 1% of exact interpolated") {
    val r = SparkEntry.queries("q_sketch_quantiles")(spark, sf).head()
    assert(r.getDouble(0) > 0 && r.getDouble(1) >= r.getDouble(0))
    assert(r.getBoolean(2) && r.getBoolean(3), "approx percentile outside 1%")
  }

  test("count-min estimates bounded: no under-count, eps*N over-count") {
    val rows = SparkEntry.queries("q_sketch_cms")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getBoolean(2), s"CMS bound violated for key ${r.getLong(0)}")
    }
  }

  test("hll inclusion-exclusion intersection within 10% of exact") {
    val r = SparkEntry.queries("q_sketch_intersect")(spark, sf).head()
    val (nA, nB, nInter) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nInter > 0 && nInter <= math.min(nA, nB))
    assert(r.getBoolean(3), "intersection estimate outside 10% bound")
  }

  test("bloom filter: no false negatives, fpr under bound") {
    val r = SparkEntry.queries("q_sketch_bloom")(spark, sf).head()
    assert(r.getLong(0) > 0)
    assert(r.getBoolean(1), "bloom false negative")
    assert(r.getBoolean(2), "bloom fpr above bound")
  }
}
