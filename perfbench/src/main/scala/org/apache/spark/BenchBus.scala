package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a listener's counters are complete when an operation returns. The
  * bus is private to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
