package org.apache.spark

/** The listener bus is package-private to Spark; the trace needs to wait
  * for queued events before it reads its counters. */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
