package graft.drivers

import graft.sources.ModelIO
import org.apache.spark.sql.{DataFrame, SparkSession}

/** GAME scoring lifecycle (reference GameScoringDriver.scala:136-197):
  * read date-ranged input, load the saved model, score every row, and
  * write the score sink with the output-file limit.
  *
  * Arguments: input-dirs/input-dir, model-dir, output-dir, model-id,
  * output-files-limit, plus the column-mapping args of
  * [[GameTrainingDriver.prepare]] (the scored data must carry the same
  * feature and random-effect columns the model was trained with).
  */
object GameScoringDriver {

  def main(argv: Array[String]): Unit = {
    val spark = graft.util.SessionTuning(SparkSession.builder())
      .appName("graft-game-scoring").getOrCreate()
    run(spark, Args.parse(argv))
  }

  def run(spark: SparkSession, a: Args): DataFrame = {
    import spark.implicits._
    val input = GameTrainingDriver.readInputs(spark, a)
    val prepared = GameTrainingDriver.prepare(input, a)
    val model = ModelIO.loadGame(spark, a.str("model-dir"))
    val scores = model.score(prepared)
    a.opt("output-dir").foreach { out =>
      ModelIO.saveScores(scores, out, a.str("model-id", "default"),
        a.int("output-files-limit", 0))
      // when labels ride along, log the evaluation next to the scores
      // (reference GameScoringDriver evaluates when validation data has
      // a response column)
      a.opt("evaluator").foreach { metric =>
        val scored = prepared.select($"uid", $"label").join(scores, "uid")
        val value = metric match {
          case "auc" => graft.ml.Evaluators.auc(scored, "score", "label")
          case "rmse" => graft.ml.Evaluators.rmse(scored, "score", "label")
          case _ =>
            graft.ml.Evaluators.logisticLoss(scored, "score", "label")
        }
        Seq((metric, value)).toDF("metric", "value")
          .coalesce(1).write.mode("overwrite").json(s"$out-metrics")
      }
    }
    scores
  }
}
