package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener's counters are complete when the harness reads them. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
