package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener's totals are complete when the benchmark reads them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
