package graft.ml

import graft.SparkSpec
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._

/** Specs for the reader façade, GAME projection, state tracking, and
  * summary strings. */
class FacadeSpec extends SparkSpec {
  import spark.implicits._

  private def bagDf = Seq(
    (1L, 1.0, Seq(("age", "", 30.0), ("geo", "us", 1.0)), Map("mkt" -> "a")),
    (2L, 0.0, Seq(("age", "", 40.0)), Map("mkt" -> "b")))
    .toDF("uid", "response", "bag", "metadataMap")
    .withColumn("bag", col("bag").cast(
      "array<struct<name:string,term:string,value:double>>"))

  test("data reader facade merges shards and reuses index maps") {
    graft.util.TempDirs.using("graft-dr") { case Seq(tmp) =>
      bagDf.write.mode("overwrite").parquet(s"$tmp/in")
      val reader = new graft.sources.DataReader(spark, format = "parquet")
      val (merged, maps) = reader.readMerged(Seq(s"$tmp/in"),
        Map("shard" -> Seq("bag")))
      assert(merged.columns.contains("shard") &&
        !merged.columns.contains("bag"))
      assert(maps("shard").count() == 2) // age + geo:us
      // reuse: a second read with the training maps yields identical dims
      val (again, maps2) = reader.readMerged(Seq(s"$tmp/in"),
        Map("shard" -> Seq("bag")), indexMaps = maps)
      assert(maps2("shard").collect().toSeq == maps("shard").collect().toSeq)
      val dims = again.select("shard").collect()
        .map(_.getAs[org.apache.spark.ml.linalg.Vector](0).size).toSet
      assert(dims.size == 1)
      // intercept option appends the constant feature to the vocabulary
      val (_, maps3) = reader.readMerged(Seq(s"$tmp/in"),
        Map("shard" -> Seq("bag")), addIntercept = true)
      assert(maps3("shard").count() == maps("shard").count() + 1)
    }
  }

  test("game converters project columns with metadataMap fallback") {
    val out = GameConverters.toGameInput(bagDf,
      InputColumnsNames(response = "response", uid = "uid"),
      shardCols = Seq("bag"), idTags = Seq("mkt"))
    assert(out.columns.toSeq ==
      Seq("uid", "label", "offset", "weight", "bag", "mkt"))
    // no offset/weight columns in the input → defaults
    assert(out.select("offset", "weight").distinct().collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSeq == Seq((0.0, 1.0)))
    // mkt has no dedicated column → metadataMap fallback
    assert(out.select("uid", "mkt").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "b"))
    intercept[IllegalArgumentException] {
      GameConverters.toGameInput(bagDf.drop("metadataMap"),
        InputColumnsNames(response = "response"), Nil, Seq("mkt"))
    }
  }

  test("state tracker records decreasing loss and convergence") {
    val rnd = new scala.util.Random(3)
    val ds = (0 until 300).map { _ =>
      val x = rnd.nextGaussian()
      LabeledPoint(2.0 * x + rnd.nextGaussian() * 0.1, Vectors.dense(x))
    }.toDS()
    val (m, t) = Glm.trainTracked(ds, 1,
      GlmConfig(SquaredLoss, l2 = 0.01, maxIter = 50, tol = 1e-9))
    assert(math.abs(m.coef(0) - 2.0) < 0.1)
    assert(t.states.nonEmpty)
    assert(t.states.head.value >= t.states.last.value)
    assert(t.converged(1e-6))
    assert(t.toSummaryString.contains("iterations"))
    // tron tracks its outer iterations too
    val (_, t2) = Glm.trainTracked(ds, 1,
      GlmConfig(SquaredLoss, l2 = 0.01, maxIter = 30, tol = 1e-9), "tron")
    assert(t2.states.nonEmpty)
  }

  test("summaries are single-aggregation strings") {
    val df = Seq((1.0, 2.0), (0.0, 1.0), (1.0, 1.0)).toDF("label", "weight")
    val s = Summaries.dataSummary(df)
    assert(s.contains("samples=3") && s.contains("weightSum=4.0"))
    val models = Seq(("e1", Array(3.0, 4.0), 0.0), ("e2", Array(0.0), 1.0))
      .toDF("reId", "coef", "intercept")
    val ms = Summaries.reModelSummary(models)
    assert(ms.contains("entities=2") && ms.contains("/5.0"),
      ms) // max norm = sqrt(3²+4²) = 5
  }
}
