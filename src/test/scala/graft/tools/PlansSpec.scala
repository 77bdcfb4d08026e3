package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** `Plans.normalize`: two dumps of the same plan from different runs
  * normalize to the same text. Builds no session. */
class PlansSpec extends AnyFunSuite {

  test("run-specific ids, scratch paths and lambda names normalize away") {
    def dump(base: Int, dir: String, lambda: String) =
      s"Project [a#${base + 7}L, b#${base + 3}]\n" +
        s"Exchange hashpartitioning(a#${base + 7}L, 4), [plan_id=${base * 2}]\n" +
        s"Scan [file:/tmp/$dir/buckets] MapPartitionsRDD[${base + 1}] a#${base + 7}L\n" +
        s"Arguments: graft.operators.Dedup$$$$$lambda, obj#${base + 9}\n"
    val a = Plans.normalize(dump(100, "plans_scratch123", "Lambda$5275/0x00007f141d3c0fe8@20a7dc29"), "/tmp")
    val b = Plans.normalize(dump(4000, "plans_scratch98765", "Lambda$5283/0x00007f22513ac5b8@17aadd1c"), "/tmp/")
    assert(a == b)
    assert(a == "Project [a#1L, b#2]\n" +
      "Exchange hashpartitioning(a#1L, 4), [plan_id=1]\n" +
      "Scan [file:<scratch>/buckets] MapPartitionsRDD[1] a#1L\n" +
      "Arguments: graft.operators.Dedup$$Lambda, obj#3\n")
  }
}
