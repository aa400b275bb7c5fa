package graft.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a call starts: its scheduler-floor reading. Every job
  * the call's actions start on the session's context is counted — AQE
  * stage jobs, broadcast jobs and schema-inference jobs included — at
  * job start, with the listener bus drained before the listener is
  * added and again before the count is read. The context is shared, so
  * count only where nothing else runs on it. */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftBus.drain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftBus.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
