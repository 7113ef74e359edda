package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * traced run's counters are complete before they are read. The bus is
  * only reachable from Spark's own package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
