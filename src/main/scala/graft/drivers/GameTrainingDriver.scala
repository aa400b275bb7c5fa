package graft.drivers

import graft.ml._
import graft.ml.CoordinateDescent._
import graft.ml.tuning.{EvaluationFunction, ParamRange, ParamSpace, Tuner}
import graft.operators.Validators
import graft.sources.ModelIO
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GAME training lifecycle driver (reference GameTrainingDriver.scala:
  * 363-519): read (date-ranged) → validate → normalize → train over a
  * regularization grid or a hyperparameter search → evaluate on
  * validation → select the best model (selectBestModel:755-780) → save.
  *
  * Arguments (`--key value`):
  *   input-dirs, validation-dir, output-dir       paths (parquet)
  *   date-range / days-range                      optional daily pruning
  *   uid-col, label-col, weight-col, offset-col   column mapping
  *   feature-cols | features-col                  assemble or reuse vector
  *   random-coordinates name:reIdCol[:cap[:low]]  per-entity intercepts
  *   loss, lambdas, iterations, max-iter, tol     optimization
  *   normalization none|standardization|scale_std
  *   evaluator rmse|auc, validate full|sample|none
  *   tuning none|random|bayesian, tuning-iters, tuning-min, tuning-max
  *   variance none|simple|full, sparsity-threshold
  *   prior-model-dir, incremental-weight          incremental training
  */
object GameTrainingDriver {

  case class Evaluated(lambda: Double, metric: Double, model: GameModel)

  def main(argv: Array[String]): Unit = {
    val spark = graft.util.SessionTuning(SparkSession.builder())
      .appName("graft-game-training").getOrCreate()
    run(spark, Args.parse(argv))
  }

  def run(spark: SparkSession, a: Args): (GameModel, Seq[Evaluated]) = {
    val train = readInputs(spark, a)
    val prepared = prepare(train, a)
    validate(prepared, a)

    val loss = PointwiseLoss.fromName(a.str("loss", "squared"))
    val norm = a.str("normalization", "none") match {
      case "none" => Normalization.identity
      case kind =>
        FeatureStats.normalization(kind,
          FeatureStats.summarize(prepared, "features"))
    }
    val featureDim = prepared.select("features").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
    val priorModel = a.opt("prior-model-dir")
      .map(d => ModelIO.loadGame(spark, d))
    val validationDf = a.opt("validation-dir")
      .map(d => prepare(spark.read.parquet(d), a))
    // counted once: keys every evaluation's derived-width scope — the
    // scored 4-coordinate join chain plus the curve-metric RDD passes
    // otherwise pay session-width shuffles and AQE stage jobs per
    // evaluation (a tuning search evaluates per candidate), which
    // dwarf the metric arithmetic on a small validation set. At
    // production validation sizes the scope is a no-op
    // ([[graft.util.ExecProfile.withDerivedShuffle]]).
    val validationRows = validationDf.map(_.count())
    val metricName = a.str("evaluator", "rmse")

    def cfgFor(lambda: Double): GlmConfig = {
      val base = GlmConfig(loss, l2 = lambda,
        norm = norm, maxIter = a.int("max-iter", 100),
        tol = a.dbl("tol", 1e-7),
        varianceComputation = a.str("variance", "none"))
      priorModel.map(_.coordinates.get("global")) match {
        case Some(Some(TrainedFixed(spec, m))) =>
          // a prior from a different vocabulary would silently attach
          // every mean/variance to the wrong feature index
          require(spec.featureDim == featureDim,
            s"incremental prior was trained at featureDim=" +
              s"${spec.featureDim}, current data has $featureDim")
          val dim = base.coefDim(featureDim)
          val means = java.util.Arrays.copyOf(m.coef, dim)
          if (base.fitIntercept) means(featureDim) = m.intercept
          val variances = m.variances
            .map(v => java.util.Arrays.copyOf(v, dim))
            .getOrElse(Array.fill(dim)(1.0))
          base.copy(prior = Some(GaussianPrior(means, variances,
            a.dbl("incremental-weight", 1.0))))
        case _ => base
      }
    }

    def specsFor(lambda: Double): Seq[CoordinateSpec] = {
      // L8: down-sample the fixed fit when requested (scoring unaffected)
      val fixed = FixedSpec("global", "features", featureDim, cfgFor(lambda),
        downSamplingRate = a.dbl("down-sampling-rate", 1.0))
      val randoms = a.list("random-coordinates").map { spec =>
        val parts = spec.split(":")
        RandomSpec(parts(0), parts(1), "emptyFeatures", 0,
          GlmConfig(loss, l2 = a.dbl("re-lambda", 1.0),
            maxIter = a.int("max-iter", 100), tol = a.dbl("tol", 1e-7)),
          // safety default: 10⁶ cap unless the spec string sets one
          // (":0" opts out explicitly)
          activeCap = if (parts.length > 2) parts(2).toInt else 1000000,
          activeLowerBound = if (parts.length > 3) parts(3).toInt else 0)
      }
      fixed +: randoms
    }

    def trainOne(lambda: Double): GameModel =
      CoordinateDescent.train(prepared, specsFor(lambda),
        nIterations = a.int("iterations", 2), initial = priorModel)

    def evaluate(model: GameModel): Double = validationDf match {
      case None => Double.NaN
      case Some(v) =>
        graft.util.ExecProfile.withDerivedShuffle(spark,
          validationRows.getOrElse(Long.MaxValue), 25000L,
          codegenOff = true) {
          val scored = v.select(col("uid"), col("label"))
            .join(model.score(v), "uid")
          metricName match {
            case "auc" => Evaluators.auc(scored, "score", "label")
            case _ => Evaluators.rmse(scored, "score", "label")
          }
        }
    }

    val results: Seq[Evaluated] = a.str("tuning", "none") match {
      case "none" =>
        val lambdas = a.doubles("lambdas") match {
          case Nil => Seq(1.0); case ls => ls
        }
        lambdas.map { l =>
          val m = trainOne(l); Evaluated(l, evaluate(m), m)
        }
      case mode =>
        // tuning minimizes; flip maximize-direction metrics
        var all = Vector.empty[Evaluated]
        val space = ParamSpace(Seq(ParamRange("lambda",
          a.dbl("tuning-min", 1e-4), a.dbl("tuning-max", 1e2),
          logScale = true)))
        val fn = new EvaluationFunction {
          def apply(p: breeze.linalg.DenseVector[Double]): Double = {
            val m = trainOne(p(0))
            val metric = evaluate(m)
            all :+= Evaluated(p(0), metric, m)
            if (Evaluators.betterThan(metricName, 1.0, 0.0)) -metric
            else metric
          }
        }
        Tuner.tune(mode, space, fn, a.int("tuning-iters", 8))
        all
    }

    val best = selectBest(results, metricName)
    // L19 per-model validation: finite predictions + metric floors on the
    // validation set (or training data when no validation dir is given);
    // a failing model aborts before anything is saved
    a.opt("model-validation").foreach { spec =>
      val target = validationDf.getOrElse(prepared)
      val scored = target.select(col("uid"), col("label"))
        .join(best.model.score(target), "uid")
      ModelValidators.enforce(scored, "score", "label",
        ModelValidators.parseBounds(spec))
    }
    a.opt("output-dir").foreach { out =>
      ModelIO.saveGame(spark, best.model, s"$out/best-model",
        a.dbl("sparsity-threshold", 0.0))
      summaryDf(spark, results, best)
        .write.mode("overwrite").json(s"$out/model-selection")
    }
    (best.model, results)
  }

  /** O6: best-model selection by metric direction
    * (GameTrainingDriver.selectBestModel:755-780). Models without a
    * validation metric (NaN) lose to any evaluated model. */
  def selectBest(results: Seq[Evaluated], metric: String): Evaluated =
    results.reduceLeft { (x, y) =>
      if (y.metric.isNaN) x
      else if (x.metric.isNaN) y
      else if (Evaluators.betterThan(metric, x.metric, y.metric)) x
      else y
    }

  private def summaryDf(spark: SparkSession, results: Seq[Evaluated],
                        best: Evaluated): DataFrame = {
    import spark.implicits._
    results.map(r => (r.lambda, r.metric, r.lambda == best.lambda))
      .toDF("lambda", "metric", "selected").coalesce(1)
  }

  /** [[readInputs]] over `input-dirs`, or the single `input-dir` when
    * that list is absent. */
  private[drivers] def readInputs(spark: SparkSession, a: Args): DataFrame =
    readInputs(spark, a, a.list("input-dirs") match {
      case Nil => Seq(a.str("input-dir"))
      case ds => ds
    })

  private[drivers] def readInputs(spark: SparkSession, a: Args,
                                  dirs: Seq[String]): DataFrame = {
    val paths = DateRanges.inputPaths(spark, dirs,
      DateRanges.resolve(a.opt("date-range"), a.opt("days-range")),
      a.bool("error-on-missing"))
    spark.read.parquet(paths: _*)
  }

  /** Column mapping + feature assembly: either reuse an existing vector /
    * array<double> column or assemble numeric columns into one dense
    * vector; always emits uid/label/weight/offset/features
    * (+ emptyFeatures for per-entity intercept coordinates). */
  private[drivers] def prepare(df: DataFrame, a: Args): DataFrame = {
    val uid = a.str("uid-col", "uid")
    val label = a.str("label-col", "label")
    val weight = a.opt("weight-col").map(col).getOrElse(lit(1.0))
    val offset = a.opt("offset-col").map(col).getOrElse(lit(0.0))
    val features = a.list("feature-cols") match {
      case Nil =>
        val c = a.str("features-col", "features")
        if (df.schema(c).dataType == SQLDataTypes.VectorType) col(c)
        else array_to_vector(col(c).cast("array<double>"))
      case cols =>
        array_to_vector(array(cols.map(c => col(c).cast("double")): _*))
    }
    val reIdCols = a.list("random-coordinates")
      .map(_.split(":")(1)).distinct
      .map(c => col(c).cast("string").as(c))
    df.select(Seq(col(uid).cast("long").as("uid"),
      col(label).cast("double").as("label"),
      weight.cast("double").as("weight"),
      offset.cast("double").as("offset"),
      features.as("features"),
      array_to_vector(array().cast("array<double>")).as("emptyFeatures"))
      ++ reIdCols: _*)
  }

  /** P3: data validation, full / deterministic-sample / off
    * (reference DataValidators.sanityCheckDataFrameForTraining). */
  private[drivers] def validate(df: DataFrame, a: Args): Unit = {
    val rules = Seq(
      Validators.Rule("label_finite", Validators.notFinite(col("label"))),
      Validators.Rule("weight_positive",
        col("weight").isNull || col("weight") <= 0),
      Validators.Rule("offset_finite", Validators.notFinite(col("offset"))))
    a.str("validate", "full") match {
      case "none" =>
      case "sample" =>
        Validators.enforce(
          df.where(md5(col("uid").cast("string")) < lit("20")), rules)
      case _ => Validators.enforce(df, rules)
    }
  }
}
