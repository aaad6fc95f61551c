package org.apache.spark

/** Access to the listener bus, which is private to Spark: the traced run
  * waits for queued listener events before it attributes them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
