package org.apache.spark

/** The listener bus's drain is package-private; the benchmark needs it so a
  * traced window's counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
