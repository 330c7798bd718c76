package org.apache.spark

/** Waits for the listener bus to deliver every queued event, so listener
  * and plan metrics are complete when an action returns.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
