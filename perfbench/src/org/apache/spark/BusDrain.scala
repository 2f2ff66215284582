package org.apache.spark

/** The listener bus is package-private; the benchmark drains it before
  * reading its counters so that every job's events have arrived.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
