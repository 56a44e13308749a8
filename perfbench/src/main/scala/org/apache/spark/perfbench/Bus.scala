package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously. Waiting for the bus to
  * empty before a listener is detached, or before its counters are read,
  * keeps the last op's events from being lost. The wait is Spark-internal
  * API, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
