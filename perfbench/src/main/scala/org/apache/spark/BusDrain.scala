package org.apache.spark

/** Waits until every listener has seen every event posted so far, so a
  * pass's counters are complete before they are read. The listener bus is
  * visible only inside this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
