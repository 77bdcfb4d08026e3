package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the benchmark must
  * see every event of a unit of work before it reads the listener, and
  * only code in the `org.apache.spark` package may wait for the bus. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
