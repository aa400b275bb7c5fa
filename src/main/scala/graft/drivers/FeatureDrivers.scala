package graft.drivers

import graft.sources.FeatureVectorizer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Feature-vocabulary lifecycle drivers.
  *
  * [[FeatureIndexingDriver]] (S11, reference FeatureIndexingDriver.scala:
  * 261-291): build the deterministic featureKey→index map over the
  * configured bag columns and persist it as parquet — the artifact every
  * training/scoring run reuses so indices never drift between jobs.
  *
  * [[NameAndTermFeatureBagsDriver]] (S10, reference
  * NameAndTermFeatureBagsDriver.scala:148-181): persist the distinct
  * (name, term) list per feature bag — the "feature whitelist" inputs of
  * downstream index builds.
  */
object FeatureIndexingDriver {

  def main(argv: Array[String]): Unit = {
    val spark = graft.util.SessionTuning(SparkSession.builder())
      .appName("graft-feature-indexing").getOrCreate()
    run(spark, Args.parse(argv))
  }

  def run(spark: SparkSession, a: Args): DataFrame = {
    val input = GameTrainingDriver.readInputs(spark, a)
    val selected = a.opt("selected-features-dir")
      .map(d => spark.read.parquet(d))
    val indexMap = FeatureVectorizer.buildIndexMap(input,
      a.list("bag-cols"), selected)
    val partitions = a.int("num-partitions", 1)
    a.opt("output-dir").foreach { out =>
      indexMap.repartition(partitions).write.mode("overwrite").parquet(out)
    }
    indexMap
  }
}

object NameAndTermFeatureBagsDriver {

  def main(argv: Array[String]): Unit = {
    val spark = graft.util.SessionTuning(SparkSession.builder())
      .appName("graft-feature-bags").getOrCreate()
    run(spark, Args.parse(argv))
  }

  /** One distinct (name, term) parquet per bag under output-dir/<bag>. */
  def run(spark: SparkSession, a: Args): Map[String, DataFrame] = {
    val input = GameTrainingDriver.readInputs(spark, a)
    a.list("bag-cols").map { bag =>
      val features = input.select(explode(col(bag)).as("f"))
        .select(col("f.name").as("name"), col("f.term").as("term"))
        .distinct()
      a.opt("output-dir").foreach { out =>
        features.write.mode("overwrite").parquet(s"$out/$bag")
      }
      bag -> features
    }.toMap
  }
}
