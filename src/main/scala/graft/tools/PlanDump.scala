package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dump `.explain("formatted")` for a list of queries to files —
  * the before/after plan evidence the optimization rounds commit under
  * plans/<round>/. Usage:
  *   runMain graft.tools.PlanDump <outDir> <suffix> q1,q2,...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, names) = args.take(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.SessionTuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.split(",").foreach { name =>
      write("plandump", outDir, s"${name}_$suffix",
        graft.SparkEntry.queries(name)(spark, d))
    }
    spark.stop()
  }

  /** Write `df`'s formatted plan to `<outDir>/<file>.txt` — the one
    * plan-evidence writer ([[OpPlanDump]] too). A failure to build or
    * plan `df` is reported on stdout under `[tag]` and skips the file. */
  def write(tag: String, outDir: String, file: String,
            df: => DataFrame): Unit =
    try {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$file.txt"), plan)
      println(s"[$tag] wrote $outDir/$file.txt")
    } catch {
      case e: Throwable => println(s"[$tag] $file FAILED: ${e.getMessage}")
    }
}
