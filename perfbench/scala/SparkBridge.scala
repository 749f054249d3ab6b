package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * scheduler and streaming counters are complete at phase boundaries. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
