package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal}
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.{Column, SparkSession}

/** Minimal bridge into `private[sql]` Spark internals needed to
  * expose custom Catalyst expressions as `Column`s and register them
  * for SQL. Lives under `org.apache.spark.sql` for access — the
  * standard pattern for third-party Spark extensions. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Codegen'd Bloom-filter probe over a serialized
    * `org.apache.spark.util.sketch.BloomFilter` — the same
    * `BloomFilterMightContain` expression Spark's own runtime
    * row-level filtering injects (there is no public SQL surface for
    * it). `value` must be a LongType column; pair it with
    * `xxhash64(...)` on both the build and probe side, mirroring
    * Spark's InjectRuntimeFilter shape. */
  def bloomMightContain(serialized: Array[Byte], value: Column): Column =
    column(BloomFilterMightContain(Literal(serialized), expression(value)))

  /** Blocks until every listener event posted so far has reached its
    * listeners (`listenerBus` is `private[spark]`). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Runs an RDD's pending local checkpoint now, in one job with the
    * session's SQL confs, as an eager `Dataset.localCheckpoint` does. */
  def checkpointNow(spark: SparkSession, rdd: RDD[_]): Unit =
    SQLExecution.withSQLConfPropagated(spark.asInstanceOf[classic.SparkSession])(rdd.doCheckpoint())

  /** Number of Datasets the session's cache manager holds. */
  def cachedDatasets(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
