package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously. Draining the bus at
  * a window's edges is what lets the collector attribute every job,
  * stage and task event to the operation that caused it; the bus is
  * package-private to Spark, hence this one-line bridge.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
