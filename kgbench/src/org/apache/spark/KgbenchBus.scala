package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * benchmark listener's counters are complete when read (the bus is
  * package-private to Spark). */
object KgbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
