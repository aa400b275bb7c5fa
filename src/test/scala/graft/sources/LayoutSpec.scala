package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Storage-layout operators: bucketed co-located joins (shuffle elision)
  * and the bounded-files date-partitioned sink. */
class LayoutSpec extends SparkSpec {

  test("bucketed tables join without a shuffle and match the plain join") {
    import spark.implicits._
    graft.util.TempDirs.using("bucketed") { case Seq(dir) =>
      val left = (1 to 1000).map(i => (i.toLong % 100, i.toLong))
        .toDF("key", "lv")
      val right = (1 to 500).map(i => (i.toLong % 100, i * 2.0))
        .toDF("key", "rv")
      Bucketing.writeBucketed(left, "t_left", s"$dir/left", "key", 8)
      Bucketing.writeBucketed(right, "t_right", s"$dir/right", "key", 8)
      // force a sort-merge join so the test actually proves bucket
      // co-location (a broadcast join has no shuffle to elide)
      try graft.util.ExecProfile.withConfs(spark,
          Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
        val joined = Bucketing.coLocatedJoin(spark, "t_left", "t_right", "key")
        assert(!Bucketing.hasShuffle(joined),
          "bucketed join should not shuffle")
        val want = left.join(right, "key")
        assert(joined.count() == want.count())
        assert(joined.exceptAll(want).isEmpty && want.exceptAll(joined).isEmpty)
        // sanity: the same join on unbucketed data DOES shuffle
        assert(Bucketing.hasShuffle(left.join(right, "key")))
      } finally {
        spark.sql("DROP TABLE IF EXISTS t_left")
        spark.sql("DROP TABLE IF EXISTS t_right")
      }
    }
  }

  test("writeByDate bounds files per date partition and round-trips rows") {
    import spark.implicits._
    graft.util.TempDirs.using("sink") { case Seq(sink) =>
      val dir = sink + "/out"
      val rows = (1 to 3000).map { i =>
        (i.toLong, java.sql.Timestamp.valueOf(
          f"2024-01-${1 + i % 3}%02d 10:00:00"), i * 0.5)
      }.toDF("uid", "ts", "v").repartition(16)
      PartitionedSink.writeByDate(rows, dir, "ts", "uid",
        filesPerPartition = 2)
      val dts = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("dt=")).sortBy(_.getName)
      assert(dts.map(_.getName).toSeq ==
        Seq("dt=2024-01-01", "dt=2024-01-02", "dt=2024-01-03"))
      dts.foreach { d =>
        val parts = d.listFiles().count(_.getName.endsWith(".parquet"))
        assert(parts >= 1 && parts <= 2,
          s"${d.getName} has $parts files, cap was 2")
      }
      val back = spark.read.parquet(dir)
      assert(back.count() == 3000)
      // partition pruning: a dt filter must prune to one partition dir
      val pruned = back.filter(col("dt") === "2024-01-02")
      assert(pruned.count() == 1000)
    }
  }
}
