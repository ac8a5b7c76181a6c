package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * trace listener's counters are complete before they are read (the bus
  * is private to Spark's own package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
