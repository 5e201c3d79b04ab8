package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark reads complete listener counters (the bus is private to Spark). */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
