package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** The two listener-bus operations the benchmark needs that Spark keeps
  * package-private: posting a marker event, so the listener sees phase
  * boundaries in the same order as the job and block events around
  * them, and draining the bus before results are read. */
object PerfbenchBus {
  def post(sc: SparkContext, e: SparkListenerEvent): Unit =
    sc.listenerBus.post(e)

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
