package org.apache.spark

/** Draining the listener bus is package-private in Spark; a listener
  * whose counts are read right after an action needs it, because job
  * events reach listeners asynchronously. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
