package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; a spec that counts
  * jobs or input bytes per request drains the (Spark-private) bus
  * before it reads its listener.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
