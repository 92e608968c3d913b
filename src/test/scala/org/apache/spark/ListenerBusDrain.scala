package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a spec's listener counts are complete when an action returns. The
  * bus is private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
