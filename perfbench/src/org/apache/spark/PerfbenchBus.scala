package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so counters read after an operation are complete. The bus
  * is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
