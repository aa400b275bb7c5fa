package graft.ml

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A trained GLM: coefficients in ORIGINAL feature space (normalization
  * already folded back in), so scoring is a plain sparse dot product.
  * Mirrors photon's GeneralizedLinearModel + Coefficients
  * (photon-lib/.../model/Coefficients.scala:31). */
case class GlmModel(coef: Array[Double], intercept: Double,
                    lossName: String,
                    variances: Option[Array[Double]] = None) {
  @transient lazy val loss: PointwiseLoss = PointwiseLoss.fromName(lossName)

  def margin(x: Vector, offset: Double): Double =
    GlmMath.dot(coef, x) + intercept + offset

  def mean(x: Vector, offset: Double): Double = loss.mean(margin(x, offset))
}

object Glm {

  /** Convert a normalized-space solution to original space:
    * w_orig = w .* factor; b_orig = b - w_orig·shift.
    * (photon's NormalizationContext.modelToOriginalSpace). */
  def toOriginalSpace(w: Array[Double], featureDim: Int,
                      cfg: GlmConfig): GlmModel = {
    val ew = GlmMath.effectiveCoef(w, cfg.norm, cfg.fitIntercept)
    val b0 = if (cfg.fitIntercept) w(featureDim) else 0.0
    val b = b0 + GlmMath.marginShift(ew, cfg.norm)
    GlmModel(java.util.Arrays.copyOf(ew, featureDim), b, lossName(cfg.loss))
  }

  def lossName(l: PointwiseLoss): String = l match {
    case LogisticLoss => "logistic"
    case SquaredLoss => "squared"
    case PoissonLoss => "poisson"
    case SmoothedHingeLoss => "smoothed_hinge"
  }

  /** Can the problem be solved exactly in one pass? Squared loss with only
    * quadratic regularization (l2 and/or Gaussian prior) has a closed-form
    * optimum — the normal equations. Identity normalization keeps the
    * moments in the same space as the regularizer; the dim bound keeps the
    * d×d aggregation buffer sane (wide models stay iterative, where each
    * pass is O(d) not O(d²)). */
  private def closedFormEligible(cfg: GlmConfig, dim: Int): Boolean =
    cfg.loss == SquaredLoss && cfg.l1 == 0 && cfg.bounds.isEmpty &&
      cfg.norm.isIdentity && dim <= 1024

  /** Train a single GLM on a distributed dataset (the fixed-effect /
    * legacy-Driver path: L1/L2/L6/L8 of the survey). Solver selection
    * follows the reference: OWLQN iff L1 > 0, else LBFGS; "tron" opts into
    * trust-region Newton; "lbfgs"/"owlqn" force the iterative path.
    * "auto" additionally takes the exact normal-equations solve when the
    * loss is squared ([[closedFormEligible]]) — one aggregate job instead
    * of one per iteration, which at 100 TB is the difference between 1 and
    * ~maxIter full-data passes. When `cfg.varianceComputation` asks for
    * them, coefficient variances are computed at the optimum and
    * attached. */
  def train(data: Dataset[LabeledPoint], featureDim: Int, cfg: GlmConfig,
            solver: String = "auto",
            warmStart: Option[Array[Double]] = None,
            tracker: Option[StatesTracker] = None): GlmModel = {
    val obj = new DistributedGlmObjective(data, featureDim, cfg)
    val dim = cfg.coefDim(featureDim)
    val init = warmStart.filter(_ => cfg.norm.isIdentity)
    def lbfgs() = Optimizers.lbfgs(obj.valueAndGradient, dim, featureDim,
      cfg, init, tracker)
    def closedForm() = {
      val (aM, bV) = obj.normalEquations()
      Optimizers.normalSolve(aM, bV, dim,
        Optimizers.QuadReg.from(cfg, dim, featureDim))
    }
    val w = (solver, cfg.bounds) match {
      case (_, Some((lower, upper))) =>
        // box constraints (S5/L4): LBFGSB regardless of requested solver
        Optimizers.lbfgsb(obj.valueAndGradient, lower, upper, featureDim,
          cfg)
      case ("tron", _) =>
        Optimizers.tron(obj.valueAndGradient, obj.hessianVector, dim,
          featureDim, cfg, tracker = tracker)
      case ("owlqn", _) =>
        Optimizers.owlqn(obj.valueAndGradient, dim, featureDim, cfg, init,
          tracker)
      case ("lbfgs", _) => lbfgs()
      case ("normal", _) =>
        // the normal equations ARE the squared-loss moments: honoring a
        // forced "normal" for any other loss/norm would silently return
        // a linear fit labeled as that model
        require(closedFormEligible(cfg, dim),
          "solver=\"normal\" requires squared loss, no l1, no bounds, " +
            "identity normalization, and dim <= 1024")
        closedForm()
      case _ =>
        if (cfg.l1 > 0)
          Optimizers.owlqn(obj.valueAndGradient, dim, featureDim, cfg,
            init, tracker)
        // tracker callers want per-iteration states → stay iterative
        else if (closedFormEligible(cfg, dim) && tracker.isEmpty)
          // singular system (collinear features, l2 = 0) → LBFGS, which
          // still converges to a minimizer
          try closedForm()
          catch { case scala.util.control.NonFatal(_) => lbfgs() }
        else lbfgs()
    }
    val variances = computeVariances(obj, w, featureDim, cfg)
    obj.unpersist()
    toOriginalSpace(w, featureDim, cfg).copy(variances = variances)
  }

  /** Training with per-iteration state tracking (L1): returns the model
    * plus the recorded optimization states for logging/diagnostics. */
  def trainTracked(data: Dataset[LabeledPoint], featureDim: Int,
                   cfg: GlmConfig, solver: String = "auto")
  : (GlmModel, StatesTracker) = {
    val t = new StatesTracker
    (train(data, featureDim, cfg, solver, tracker = Some(t)), t)
  }

  /** Coefficient variances at the optimum, in ORIGINAL space
    * (DistributedOptimizationProblem.computeVariances:86-110):
    * "simple" → 1/diag(H), "full" → diag(H⁻¹) by Cholesky, both with the
    * regularizer's constant diagonal included. Variance transforms back
    * by factor² (w_orig = w_norm·f ⇒ Var_orig = f²·Var_norm). */
  private[ml] def computeVariances(obj: DistributedGlmObjective,
                                   w: Array[Double], featureDim: Int,
                                   cfg: GlmConfig)
  : Option[Array[Double]] = {
    val dim = cfg.coefDim(featureDim)
    val regDiag = Optimizers.QuadReg.from(cfg, dim, featureDim).diagonal
    def toOriginal(v: Array[Double]): Array[Double] = {
      cfg.norm.factors.foreach { f =>
        var i = 0
        while (i < f.length) { v(i) *= f(i) * f(i); i += 1 }
      }
      v
    }
    cfg.varianceComputation.toLowerCase match {
      case "simple" =>
        // hessianDiagonal is already factor²-scaled (normalized space)
        val hd = obj.hessianDiagonal(w)
        val v = new Array[Double](dim)
        var i = 0
        while (i < dim) {
          val h = hd(i) + regDiag(i)
          v(i) = if (h > 1e-12) 1.0 / h else 1e12
          i += 1
        }
        Some(toOriginal(v))
      case "full" =>
        import breeze.linalg.{cholesky, DenseMatrix}
        val flat = obj.hessianMatrix(w)
        val h = new DenseMatrix[Double](dim, dim, flat) // symmetric: t irrelevant
        // raw-feature Hessian → normalized space: scale rows+cols by f
        cfg.norm.factors.foreach { f =>
          var i = 0
          while (i < dim) {
            var j = 0
            while (j < dim) {
              val fi = if (i < f.length) f(i) else 1.0
              val fj = if (j < f.length) f(j) else 1.0
              h(i, j) *= fi * fj
              j += 1
            }
            i += 1
          }
        }
        var i = 0
        while (i < dim) { h(i, i) += regDiag(i) + 1e-12; i += 1 }
        val l = cholesky(h)
        // diag(H⁻¹) columnwise: solve H·eᵢ via the factor
        val v = new Array[Double](dim)
        i = 0
        while (i < dim) {
          val e = new Array[Double](dim); e(i) = 1.0
          val z = graft.ml.tuning.GpMath.cholSolve(l,
            breeze.linalg.DenseVector(e))
          v(i) = z(i)
          i += 1
        }
        Some(toOriginal(v))
      case _ => None
    }
  }

  /** Incremental training (L17, GameEstimator.scala:777-798): the prior
    * model's coefficients and variances become a Gaussian prior, and the
    * optimizer warm-starts from them. Models trained with variances
    * ("simple"/"full") chain naturally across retrains. */
  def trainIncremental(data: Dataset[LabeledPoint], featureDim: Int,
                       cfg: GlmConfig, priorModel: GlmModel,
                       incrementalWeight: Double = 1.0,
                       solver: String = "auto"): GlmModel = {
    val dim = cfg.coefDim(featureDim)
    val means = new Array[Double](dim)
    System.arraycopy(priorModel.coef, 0, means, 0,
      math.min(featureDim, priorModel.coef.length))
    if (cfg.fitIntercept) means(featureDim) = priorModel.intercept
    val variances = priorModel.variances
      .map(v => java.util.Arrays.copyOf(v, dim))
      .getOrElse(Array.fill(dim)(1.0))
    val priorCfg = cfg.copy(prior =
      Some(GaussianPrior(means, variances, incrementalWeight)))
    train(data, featureDim, priorCfg, solver, warmStart = Some(means))
  }

  /** Local in-memory training — the per-entity path used inside
    * flatMapGroups by RandomEffect (SingleNodeOptimizationProblem).
    * `warmStart` is an original-space (coef :+ intercept) seed; only used
    * under identity normalization (random-effect problems train raw). */
  def trainLocal(data: Array[LabeledPoint], featureDim: Int,
                 cfg: GlmConfig,
                 warmStart: Option[Array[Double]] = None): GlmModel = {
    val obj = new LocalGlmObjective(data, featureDim, cfg)
    val dim = cfg.coefDim(featureDim)
    val init = if (cfg.norm.isIdentity) warmStart else None
    def lbfgs() =
      Optimizers.lbfgs(obj.valueAndGradient, dim, featureDim, cfg, init)
    val w =
      if (cfg.l1 > 0) Optimizers.owlqn(obj.valueAndGradient, dim,
        featureDim, cfg, init)
      else if (closedFormEligible(cfg, dim))
        // per-entity squared loss (e.g. random-effect intercepts) solves
        // exactly in one loop over the group; singular → LBFGS fallback
        try {
          val (aM, bV) = obj.normalEquations()
          Optimizers.normalSolve(aM, bV, dim,
            Optimizers.QuadReg.from(cfg, dim, featureDim))
        } catch { case scala.util.control.NonFatal(_) => lbfgs() }
      else lbfgs()
    val variances = cfg.varianceComputation.toLowerCase match {
      case "simple" | "full" => // full ≡ simple for tiny local problems
        val regDiag = Optimizers.QuadReg.from(cfg, dim, featureDim).diagonal
        val hd = obj.hessianDiagonal(w)
        val v = Array.tabulate(dim) { i =>
          val h = hd(i) + regDiag(i)
          if (h > 1e-12) 1.0 / h else 1e12
        }
        cfg.norm.factors.foreach { f =>
          var i = 0
          while (i < f.length) { v(i) *= f(i) * f(i); i += 1 }
        }
        Some(v)
      case _ => None
    }
    toOriginalSpace(w, featureDim, cfg).copy(variances = variances)
  }

  /** Warm-started regularization path (ModelTraining.scala:100-228):
    * lambdas trained in DESCENDING order, each solution seeding the next.
    * Returns lambda → model. */
  def regularizationPath(data: Dataset[LabeledPoint], featureDim: Int,
                         base: GlmConfig, lambdas: Seq[Double])
  : Map[Double, GlmModel] = {
    val dim = base.coefDim(featureDim)
    val obj = new DistributedGlmObjective(data, featureDim, base)
    var warm = new Array[Double](dim)
    val out = lambdas.sorted(Ordering[Double].reverse).map { lambda =>
      // route through the shared optimizer layer so the path honors the
      // full config (l1 → OWLQN, Gaussian priors via QuadReg) instead of
      // a hand-rolled ridge-only loop that would drift from train()
      val cfg = base.copy(l2 = lambda)
      warm =
        if (cfg.l1 > 0)
          Optimizers.owlqn(obj.valueAndGradient, dim, featureDim, cfg,
            Some(warm.clone()))
        else
          Optimizers.lbfgs(obj.valueAndGradient, dim, featureDim, cfg,
            Some(warm.clone()))
      lambda -> toOriginalSpace(warm, featureDim, cfg)
    }.toMap
    obj.unpersist()
    out
  }

  /** Score a DataFrame with a broadcast model (J1: the fixed-effect
    * broadcast join — the model rides the closure, Catalyst keeps the scan
    * pipelined; no shuffle). Adds `scoreCol` = raw margin (no offset). */
  def score(df: DataFrame, model: GlmModel, featuresCol: String,
            scoreCol: String = "score"): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(model)
    val scoreUdf = udf { (v: Vector) =>
      GlmMath.dot(bc.value.coef, v) + bc.value.intercept
    }
    df.withColumn(scoreCol, scoreUdf(col(featuresCol)))
  }
}
