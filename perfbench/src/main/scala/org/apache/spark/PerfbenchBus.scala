package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark waits for
  * it to drain before reading its listener's counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
