package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's counters cover all work submitted before the call. The
  * bus is private to Spark's own package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
