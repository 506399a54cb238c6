package org.apache.spark

/** Test access to the context's private listener bus: blocks until
  * every event posted so far has reached its listeners, so a
  * listener's job counts are final when a spec reads them.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
