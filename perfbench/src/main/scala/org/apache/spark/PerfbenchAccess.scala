package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits on it once,
  * after the timed passes, so every task and query event has reached its
  * listener before the events are attributed to spans. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
