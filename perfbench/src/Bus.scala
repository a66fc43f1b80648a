package org.apache.spark

/** The listener bus is package-private; the benchmark needs only to
  * wait until it has delivered every posted event before reading its
  * counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
