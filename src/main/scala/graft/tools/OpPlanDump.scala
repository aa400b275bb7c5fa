package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Operator-level plan evidence for the optimization rounds: the
  * SparkEntry fixture wrappers localCheckpoint their results, so a
  * query-level dump only shows the checkpoint scan — this builds a
  * small planted index fleet and dumps `.explain("formatted")` for the
  * LAZY operator frames the round's claims are about (health rows,
  * erase audits). Usage: runMain graft.tools.OpPlanDump <outDir> <suffix>
  */
object OpPlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix) = args.take(2)
    val spark = graft.util.SessionTuning(SparkSession.builder())
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.operators._
    new java.io.File(outDir).mkdirs()
    def dumpAs(file: String, df: => DataFrame): Unit =
      PlanDump.write("opplandump", outDir, file, df)
    def dump(name: String, df: => DataFrame): Unit =
      dumpAs(s"${name}_$suffix", df)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "how vexingly quick daft zebras jump"))
      .toDF("id", "text")
    val delta = Seq((10L, "pack my box with five dozen liquor jugs too"))
      .toDF("id", "text")
    graft.util.TempDirs.using("opplan_ex_", "opplan_mh_", "opplan_sh_") {
      case Seq(exDir, mhDir, shDir) =>
      Dedup.exactIndexBuild(docs, exDir, "id", "text")
      Dedup.minhashIndexBuild(docs, mhDir, "id", "text")
      Dedup.simhashIndexBuild(docs, shDir, "id", "text")
      // delete one doc so a tombstone table exists — the pending-count
      // side of the health reading is then a real plan, not a literal
      Dedup.exactIndexDelete(spark, exDir,
        docs.filter($"id" === 3L), "id", "text")
      Dedup.minhashIndexDelete(spark, mhDir,
        docs.filter($"id" === 3L), "id")
      Dedup.simhashIndexDelete(spark, shDir,
        docs.filter($"id" === 3L), "id")
      dump("op_exact_health", Dedup.exactIndexHealth(spark, exDir))
      dump("op_minhash_health", Dedup.minhashIndexHealth(spark, mhDir))
      dump("op_simhash_health", Dedup.simhashIndexHealth(spark, shDir))
      dump("op_fleet_erase_audit", Similarity.fleetEraseAudit(spark,
        Seq(exDir, mhDir, shDir), delta, "id", textCol = Some("text")))
    }

    // GAME descent-pass residual shape (r17: scores-as-columns fusion).
    // The "before" shape is the old loop's exact composition, still
    // constructible from the unchanged public ScoreAlgebra API: residual
    // = full-outer subtract of two (uid, score) frames, then the
    // left-outer offset attach onto the full training frame — three
    // joins per pass, the widest of which carries the feature vectors.
    // The "after" shape is what CoordinateDescent.train now plans per
    // pass: residual offset as a projection over the score columns of
    // the single uid-aligned frame (zero joins).
    import org.apache.spark.sql.functions._
    val training = Seq(
      (1L, 1.0, 1.0, 0.0, Array(0.1, 0.2), "u1"),
      (2L, 0.0, 1.0, 0.0, Array(0.3, 0.4), "u2"),
      (3L, 1.0, 1.0, 0.0, Array(0.5, 0.6), "u1"))
      .toDF("uid", "label", "weight", "offset", "features", "userId")
    // both shapes dump in ONE run (the before shape survives in the
    // public ScoreAlgebra API), so they get their fixed names directly
    val sA = training.select($"uid", ($"label" * 0.5).as("score"))
    val sB = training.select($"uid", ($"label" * 0.25).as("score"))
    dumpAs("op_game_residual_before",
      ScoreAlgebra.addToOffsets(training,
        ScoreAlgebra.subtract(ScoreAlgebra.add(sA, sB, "uid"), sB, "uid"),
        "uid"))
    val frame = training
      .withColumn("_score_global", $"label" * 0.5)
      .withColumn("_score_perUser", $"label" * 0.25)
    dumpAs("op_game_residual_after",
      frame.withColumn("offset", $"offset" + $"_score_global"))
    spark.stop()
  }
}
