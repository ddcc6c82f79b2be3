package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * counter read right after an action includes that action's jobs. The
  * bus is private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
