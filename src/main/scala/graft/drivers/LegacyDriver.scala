package graft.drivers

import graft.ml._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Single-GLM training lifecycle (the reference's legacy
  * photon-client/.../Driver.scala:146-205): read → validate → train a
  * warm-started regularization path → validate each lambda → pick the
  * best → write a coefficient table per lambda plus a selection summary.
  *
  * Arguments: input-dir, validation-dir, output-dir, lambdas, loss,
  * evaluator, solver, variance, plus the column-mapping arguments shared
  * with [[GameTrainingDriver]]. `prior-model-dir` switches to incremental
  * training (single lambda, Gaussian prior from the saved model).
  */
object LegacyDriver {

  def main(argv: Array[String]): Unit = {
    val spark = graft.util.SessionTuning(SparkSession.builder())
      .appName("graft-glm-training").getOrCreate()
    run(spark, Args.parse(argv))
  }

  def run(spark: SparkSession, a: Args)
  : (Map[Double, GlmModel], Double) = {
    import spark.implicits._
    val prepared = GameTrainingDriver.prepare(
      GameTrainingDriver.readInputs(spark, a, Seq(a.str("input-dir"))), a)
    GameTrainingDriver.validate(prepared, a)

    val loss = PointwiseLoss.fromName(a.str("loss", "logistic"))
    val featureDim = prepared.select("features").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
    val ds = prepared.select(col("label"), col("features"), col("offset"),
      col("weight")).as[LabeledPoint]
    // --constraints '[{"name":"x1","term":"","lowerBound":0}]' routes
    // training to LBFGSB; assembled feature-cols map to keys name+SEP+""
    val bounds = a.opt("constraints").map { json =>
      val keyToIndex = a.list("feature-cols").zipWithIndex.map {
        case (c, i) => (c + graft.sources.FeatureVectorizer.Sep) -> i
      }.toMap
      val parsed = Constraints.parse(json)
      // a constraint that matches nothing would silently train
      // UNCONSTRAINED while the user believes the bound is enforced
      require(keyToIndex.nonEmpty,
        "--constraints requires --feature-cols (constraint names bind " +
          "to assembled feature columns)")
      val unmatched = parsed.map(c => c.name +
        graft.sources.FeatureVectorizer.Sep + c.term)
        .filterNot(k => keyToIndex.contains(k))
      require(unmatched.isEmpty,
        s"constraints reference unknown features: ${unmatched.mkString(", ")}")
      Constraints.boundsFor(parsed, keyToIndex, featureDim,
        fitIntercept = true)
    }
    val cfg = GlmConfig(loss, maxIter = a.int("max-iter", 100),
      tol = a.dbl("tol", 1e-7),
      varianceComputation = a.str("variance", "none"),
      bounds = bounds)
    val lambdas = a.doubles("lambdas") match {
      case Nil => Seq(1.0); case ls => ls
    }

    val models: Map[Double, GlmModel] = a.opt("prior-model-dir") match {
      case Some(dir) =>
        // incremental: the saved coefficient table is the Gaussian prior
        val prior = readModel(spark, dir, featureDim, loss)
        val l = lambdas.head
        Map(l -> Glm.trainIncremental(ds, featureDim, cfg.copy(l2 = l),
          prior, a.dbl("incremental-weight", 1.0),
          a.str("solver", "auto")))
      case None if cfg.bounds.isDefined ||
          a.str("solver", "auto") != "auto" =>
        // constrained path (LBFGSB) or an explicitly forced solver:
        // per-lambda fits — the warm-started regularization path picks
        // LBFGS/OWLQN itself and would ignore a forced solver, and
        // LBFGSB starts inside the box, not from the previous lambda
        lambdas.map(l =>
          l -> Glm.train(ds, featureDim, cfg.copy(l2 = l),
            a.str("solver", "auto"))).toMap
      case None =>
        Glm.regularizationPath(ds, featureDim, cfg, lambdas)
    }

    val metricName = a.str("evaluator", "logistic")
    val valDs = a.opt("validation-dir").map(d =>
      GameTrainingDriver.prepare(spark.read.parquet(d), a))
    def metric(m: GlmModel): Double = valDs match {
      case None => Double.NaN
      case Some(v) =>
        // evaluate the TRAINED quantity: margin includes the offset, and
        // rows carry their training weights (prepare() defaults both)
        val scored = Glm.score(v, m, "features")
          .withColumn("score", col("score") + col("offset"))
        metricName match {
          case "auc" => Evaluators.auc(scored, "score", "label")
          case "rmse" =>
            Evaluators.rmse(scored, "score", "label", Some("weight"))
          case _ =>
            Evaluators.logisticLoss(scored, "score", "label", Some("weight"))
        }
    }
    val evaluated = models.map { case (l, m) => l -> metric(m) }
    val bestLambda =
      if (valDs.isEmpty)
        // no validation set → nothing to compare on; the FIRST
        // user-specified lambda is the documented deterministic choice
        // (hash-map order would otherwise pick one arbitrarily)
        lambdas.head
      else evaluated.reduceLeft { (x, y) =>
        if (y._2.isNaN) x
        else if (x._2.isNaN) y
        else if (Evaluators.betterThan(metricName, x._2, y._2)) x else y
      }._1

    // L19 per-model validation: the selected model must produce finite
    // predictions and clear configured metric bounds before being saved
    a.opt("model-validation").foreach { spec =>
      val target = valDs.getOrElse(prepared)
      ModelValidators.enforce(
        Glm.score(target, models(bestLambda), "features"),
        "score", "label", ModelValidators.parseBounds(spec))
    }

    a.opt("output-dir").foreach { out =>
      models.foreach { case (l, m) => writeModel(spark, m, s"$out/lambda=$l") }
      evaluated.toSeq.map { case (l, v) => (l, v, l == bestLambda) }
        .toDF("lambda", "metric", "selected").coalesce(1)
        .write.mode("overwrite").json(s"$out/model-selection")
      writeModel(spark, models(bestLambda), s"$out/best-model")
    }
    (models, bestLambda)
  }

  /** Coefficient table sink: (feature_idx, weight, variance), intercept
    * at index -1 — the legacy text-model layout as parquet. */
  private[drivers] def writeModel(spark: SparkSession, m: GlmModel,
                                  dir: String): Unit = {
    import spark.implicits._
    val dim = m.coef.length
    val rows = ((-1, m.intercept,
      m.variances.map(v => v(math.min(dim, v.length - 1))).getOrElse(0.0))
      +: m.coef.zipWithIndex.map { case (w, i) =>
      (i, w, m.variances.map(_(i)).getOrElse(0.0))
    }.toSeq)
    rows.toDF("feature_idx", "weight", "variance")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private[drivers] def readModel(spark: SparkSession, dir: String,
                                 featureDim: Int, loss: PointwiseLoss)
  : GlmModel = {
    val rows = spark.read.parquet(dir).collect()
    val coef = new Array[Double](featureDim)
    val variances = new Array[Double](featureDim + 1)
    var intercept = 0.0
    var hasVar = false
    rows.foreach { r =>
      val i = r.getInt(0)
      require(i >= -1 && i < featureDim,
        s"prior model at $dir has feature_idx=$i but current " +
          s"featureDim=$featureDim — vocabulary mismatch, refusing to " +
          "mis-align the prior")
      val v = r.getDouble(2)
      if (v != 0.0) hasVar = true
      if (i >= 0) { coef(i) = r.getDouble(1); variances(i) = v }
      else { intercept = r.getDouble(1); variances(featureDim) = v }
    }
    GlmModel(coef, intercept, Glm.lossName(loss),
      if (hasVar) Some(variances) else None)
  }
}
