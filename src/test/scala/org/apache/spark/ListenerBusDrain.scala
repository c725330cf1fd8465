package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener's counters are complete when a spec reads them. The bus is
  * `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
