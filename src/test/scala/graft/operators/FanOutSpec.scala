package graft.operators

import graft.SparkSpec
import graft.Tables
import graft.util.ExecProfile
import org.apache.spark.sql.functions._

/** Contract of the small-input scan fan-out (Tables.fanOut): it exists
  * ONLY to rescue under-split fixture scans — on production-shaped
  * multi-split input it must be a plan-time no-op, the repartition width
  * must scale with scan bytes (a 2k-row table must not pay a 32-way
  * exchange), and the conf switch the plan-gate suites rely on must
  * actually disable it. */
class FanOutSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val f = java.io.File.createTempFile(name, "")
    f.delete()
    f.getAbsolutePath
  }

  private def withFanOut(confs: (String, String)*)(body: => Unit): Unit =
    ExecProfile.withConfs(spark,
      Map("spark.graft.fanout" -> "true") ++ confs)(body)

  private def withSizing(minBytes: Long, perPart: Long)(body: => Unit): Unit =
    withFanOut("spark.graft.fanout.minBytes" -> minBytes.toString,
      "spark.graft.fanout.bytesPerPartition" -> perPart.toString)(body)

  test("single-split scan above the size floor fans out to parallelism") {
    // 1 byte per partition → the byte-proportional target saturates at
    // defaultParallelism, which is what a genuinely large one-split
    // production file would see
    withSizing(minBytes = 1L, perPart = 1L) {
      val p = tmp("fanout1")
      spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(1).write.parquet(p)
      val df = Tables.fanOut(spark.read.parquet(p), "k")
      assert(df.rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism)
    }
  }

  test("tiny scan below the size floor is a no-op (the fan-out-tax fix)") {
    // default floor is 128 KB; a 1k-row two-column parquet is ~8 KB, so
    // the repartition must be skipped entirely — this pins the r8 fix
    // for the ~20 sub-second queries that paid a 32-way exchange for a
    // 2k-row input
    withFanOut() {
      val p = tmp("fanout_tiny")
      spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(1).write.parquet(p)
      val df = Tables.fanOut(spark.read.parquet(p), "k")
      assert(!graft.sources.Bucketing.hasShuffle(df))
    }
  }

  test("mid-size scan gets a byte-proportional partition count") {
    // file is a few KB; with a 1 KB floor and 4 KB per partition the
    // target lands strictly between 1 and defaultParallelism
    val p = tmp("fanout_mid")
    spark.range(2000).select(col("id").as("k"), (col("id") * 2).as("v"))
      .coalesce(1).write.parquet(p)
    val bytes = new java.io.File(
      spark.read.parquet(p).inputFiles.head.stripPrefix("file:")).length
    withSizing(minBytes = 1L, perPart = math.max(1L, bytes / 3)) {
      val n = Tables.fanOut(spark.read.parquet(p), "k").rdd.getNumPartitions
      assert(n > 1 && n <= spark.sparkContext.defaultParallelism,
        s"expected proportional target, got $n")
    }
  }

  test("multi-split scan is left untouched (the at-scale no-op)") {
    withSizing(minBytes = 1L, perPart = 1L) {
      val p = tmp("fanout2")
      spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
        .repartition(8).write.parquet(p)
      // 8 files ≥ defaultParallelism/2 (4-core spec session) → no repartition
      val scan = spark.read.parquet(p)
      val before = scan.rdd.getNumPartitions
      val df = Tables.fanOut(scan, "k")
      assert(df.rdd.getNumPartitions == before)
      assert(!graft.sources.Bucketing.hasShuffle(df))
    }
  }

  test("spark.graft.fanout=false disables the repartition entirely") {
    val p = tmp("fanout3")
    spark.range(100).select(col("id").as("k")).coalesce(1).write.parquet(p)
    ExecProfile.withConfs(spark, Map("spark.graft.fanout" -> "false")) {
      val df = Tables.fanOut(spark.read.parquet(p), "k")
      assert(!graft.sources.Bucketing.hasShuffle(df))
    }
  }

  test("fan-out preserves row multiset") {
    withSizing(minBytes = 1L, perPart = 1L) {
      val p = tmp("fanout4")
      spark.range(500).select(col("id").as("k"), (col("id") % 7).as("v"))
        .coalesce(1).write.parquet(p)
      val got = Tables.fanOut(spark.read.parquet(p), "k")
        .groupBy().agg(count(lit(1)), sum("k"), sum("v")).collect()(0)
      assert(got.getLong(0) == 500 && got.getLong(1) == 500L * 499 / 2)
    }
  }
}
