package org.apache.spark

/** The listener bus is asynchronous. The benchmark reads its listener only
  * after the bus has delivered every event, which needs this
  * package-private call. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
