package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry`'s key catalog: every oracle statement and every
  * Spark-dialect twin names a query key, and exactly the four lossy or
  * engine-hash keys go without an oracle. Builds no session. */
class SparkEntrySpec extends AnyFunSuite {

  test("137 keys; every oracle and Spark-dialect twin names a key; four keys are rows-only") {
    val queries = SparkEntry.queries.keySet
    val oracled = SparkEntry.oracleSql.keySet
    assert(queries.size == 137)
    assert(oracled.subsetOf(queries), s"orphan oracles: ${oracled -- queries}")
    assert(SparkEntry.sparkSql.keySet.subsetOf(oracled),
      s"twins without an oracle: ${SparkEntry.sparkSql.keySet -- oracled}")
    assert(queries -- oracled == Set("q_dedup_minhash", "q_dedup_simhash",
      "q_sgd_train_sketch", "q_sketch_roundtrip"))
  }
}
