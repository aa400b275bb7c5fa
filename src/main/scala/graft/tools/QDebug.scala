package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan inspection and per-call-site job timing for one query.
  * Usage: runMain graft.tools.QDebug [query] [sfDir]; env QDEBUG_CONF
  * adds session confs, QDEBUG_EXPLAIN prints the formatted plan. */
object QDebug {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // QDEBUG_CONF="k1=v1;k2=v2" session confs, set before the session starts
    val extraConf = sys.env.get("QDEBUG_CONF").toSeq
      .flatMap(_.split(';').map(_.split('=')))
      .collect { case Array(k, v) => k -> v }
    val spark = graft.util.SessionTuning(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(extraConf.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = "/root/testdata/sf0.1"

    @volatile var jobs = List.empty[(Int, Long, String)]
    val execSites =
      new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      private val starts =
        new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      override def onOtherEvent(
          event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: org.apache.spark.sql.execution.ui
              .SparkListenerSQLExecutionStart =>
            val graftLine = e.details.linesIterator
              .find(l => l.contains("graft.") && !l.contains("QDebug"))
              .getOrElse("").trim.take(110)
            execSites.put(e.executionId,
              e.description.take(60) + " | " + graftLine)
          case _ => ()
        }
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val execId = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        val stage = js.stageInfos.lastOption.map(_.name.take(45))
          .getOrElse("?")
        val call = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("")
        val site = execId.flatMap(id =>
          Option(execSites.get(id.toLong))).getOrElse("?") +
          " ## " + stage + " @@ " + call
        starts.put(js.jobId, (js.time, site))
      }
      override def onJobEnd(
          je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val (t0, site) = Option(starts.get(je.jobId))
          .getOrElse((je.time, "?"))
        jobs = (je.jobId, je.time - t0, site) :: jobs
      }
    }
    spark.sparkContext.addSparkListener(listener)

    def time(name: String)(f: => Long): Unit = {
      jobs = Nil
      val t0 = System.nanoTime()
      val n = f
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // listener drain
      val js = jobs.sortBy(_._1)
      println(f"$name: $wall%.1fs ($n rows), ${js.size} jobs, " +
        f"job-time sum ${js.map(_._2).sum / 1e3}%.1fs")
      js.groupBy(_._3).toSeq
        .map { case (site, g) => (site, g.size, g.map(_._2).sum) }
        .sortBy(-_._3)
        .foreach { case (site, n, ms) =>
          println(f"  ${ms / 1e3}%7.2fs  n=$n%-4d $site")
        }
    }

    val name = args.headOption.getOrElse("q52_game_events")
    val dir = if (args.length > 1) args(1) else d
    val q = graft.SparkEntry.queries(name)
    if (sys.env.contains("QDEBUG_EXPLAIN")) q(spark, dir).explain("formatted")
    // time through toRdd, as Bench does: a bare count() lets Catalyst
    // prune projection-only plans down to a row count
    time(s"$name cold") { q(spark, dir).queryExecution.toRdd.count() }
    time(s"$name warm") { q(spark, dir).queryExecution.toRdd.count() }
    spark.stop()
  }
}
