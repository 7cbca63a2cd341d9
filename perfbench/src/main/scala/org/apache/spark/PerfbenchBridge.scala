package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before it
  * reads its listener's counters, so late task events are not lost. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
