package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * recorder's totals are complete before they are read. Lives in Spark's
  * package because the bus is not public API. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
