package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark reads complete per-span counters. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
