package graft.ml

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Labeled sample row (photon-lib/.../data/LabeledPoint.scala:30-36 — the
  * reference adds `offset` to spark.ml's (label, features, weight)). */
case class LabeledPoint(label: Double, features: Vector,
                        offset: Double = 0.0, weight: Double = 1.0)

/** Gaussian prior over coefficients for incremental training (reference
  * photon-lib/.../function/PriorDistribution.scala:30-233): the previous
  * model's means and variances become a per-coefficient quadratic penalty
  * incrementalWeight·Σ (βⱼ−μⱼ)²/(2σⱼ²). Coefficients with no prior
  * variance (σ² ≤ 0) fall back to the config's plain l2 weight, exactly
  * the reference's invertVectorWithZeroHandler(l2RegWeight).
  *
  * Arrays are in ORIGINAL feature space, length featureDim, plus the
  * intercept slot last when the model has one. */
case class GaussianPrior(means: Array[Double], variances: Array[Double],
                         incrementalWeight: Double = 1.0)

/** GLM objective configuration shared by distributed and local solvers.
  * `varianceComputation`: "none" | "simple" (1/diag H) | "full"
  * (diag H⁻¹), matching the reference's VarianceComputationType. */
case class GlmConfig(loss: PointwiseLoss = LogisticLoss,
                     l1: Double = 0.0, l2: Double = 0.0,
                     fitIntercept: Boolean = true,
                     norm: Normalization = Normalization.identity,
                     maxIter: Int = 100, tol: Double = 1e-6,
                     treeAggregateDepth: Int = 2,
                     prior: Option[GaussianPrior] = None,
                     varianceComputation: String = "none",
                     bounds: Option[(Array[Double], Array[Double])] = None) {
  def coefDim(featureDim: Int): Int =
    featureDim + (if (fitIntercept) 1 else 0)
}

/** Distributed value+gradient objective over a Dataset[LabeledPoint].
  *
  * One Spark job per evaluation: a treeAggregate with mutable
  * Array[Double] buffers (the reference's ValueAndGradientAggregator,
  * photon-lib/.../function/glm/ValueAndGradientAggregator.scala:33-285).
  * This mirrors what Spark MLlib itself does inside LogisticRegression —
  * the canonical "genuine per-partition imperative logic" case where the
  * RDD escape hatch beats a typed Aggregator: the deserialized samples are
  * cached once and every optimizer iteration reuses them with zero
  * decode cost. `depth` bounds driver inbound traffic when the gradient
  * vector is wide (X7: high-dim gradients merge executor-side first).
  */
class DistributedGlmObjective(data: Dataset[LabeledPoint], featureDim: Int,
                              cfg: GlmConfig) extends Serializable {
  @transient private val cached: RDD[LabeledPoint] = data.rdd
  /** Whether the cache is this objective's own: a caller-persisted RDD
    * is read as it is and left cached by [[unpersist]]. */
  private val owned = cached.getStorageLevel == StorageLevel.NONE
  if (owned) cached.persist(StorageLevel.MEMORY_AND_DISK)
  /** Per-iteration view of the cache: every optimizer iteration is one
    * aggregate ROUND over this RDD, so a near-empty partition charges
    * its task-launch overhead once per round — TRON at maxIter=100 paid
    * ~2s extra on a 2k-row fixture fanned out to 32 partitions. Build
    * the cache at full parallelism (feature decode is the expensive
    * pass), then iterate over a no-shuffle `coalesce` sized to ≥25k
    * rows per partition. The count() materializes the cache — a pass
    * the first iteration would pay anyway — and at production row
    * counts the clamp keeps the build partitioning, so this is a
    * fixture-scale adaptation, not a scale compromise. */
  @transient private val rdd: RDD[LabeledPoint] = {
    val n = cached.count()
    val target = math.min(cached.getNumPartitions.toLong, n / 25000L + 1)
    if (target < cached.getNumPartitions) cached.coalesce(target.toInt)
    else cached
  }
  private val dim = cfg.coefDim(featureDim)

  /** (Σ weighted loss, gradient, Σ weight). Regularization NOT included —
    * the optimizer layer owns it (as in the reference, where L2 is a
    * mixin and L1 lives in OWLQN). */
  def valueAndGradient(w: Array[Double]): (Double, Array[Double], Double) = {
    val loss = cfg.loss
    val fitI = cfg.fitIntercept
    val norm = cfg.norm
    val d = dim
    val fDim = featureDim
    val ew = GlmMath.effectiveCoef(w, norm, fitI)
    val shift = GlmMath.marginShift(ew, norm)
    val (l, g, ws) = rdd.treeAggregate((0.0, new Array[Double](d), 0.0))(
      seqOp = { case ((lAcc, grad, wAcc), p) =>
        val li = GlmMath.accumulate(loss, ew, shift, fitI, fDim,
          p.label, p.features, p.offset, p.weight, grad)
        (lAcc + li, grad, wAcc + p.weight)
      },
      combOp = { case ((l1a, g1, w1), (l2a, g2, w2)) =>
        var i = 0
        while (i < g1.length) { g1(i) += g2(i); i += 1 }
        (l1a + l2a, g1, w1 + w2)
      },
      depth = cfg.treeAggregateDepth)
    GlmMath.finishGradient(g, norm, fitI, fDim)
    (l, g, ws)
  }

  /** Hessian·v product (HessianVectorAggregator.scala:37-): one pass,
    * H·v = Σ w_i · d2z_i · (x_i·v) · x_i  (+ L2 handled by optimizer). */
  def hessianVector(w: Array[Double], v: Array[Double]): Array[Double] = {
    val loss = cfg.loss
    val fitI = cfg.fitIntercept
    val norm = cfg.norm
    val d = dim
    val fDim = featureDim
    val ew = GlmMath.effectiveCoef(w, norm, fitI)
    val ev = GlmMath.effectiveCoef(v, norm, fitI)
    val shift = GlmMath.marginShift(ew, norm)
    val vShift = GlmMath.marginShift(ev, norm)
    val hv = rdd.treeAggregate(new Array[Double](d))(
      seqOp = { (acc, p) =>
        val z = GlmMath.margin(ew, shift, fitI, fDim, p.features, p.offset)
        // dz/dw · v in normalized space = ev·x + vShift (+ v_intercept)
        val xv = GlmMath.dot(ev, p.features) + vShift +
          (if (fitI) ev(fDim) else 0.0)
        val s = p.weight * loss.d2z(z, p.label) * xv
        GlmMath.axpy(s, p.features, acc)
        if (fitI) acc(fDim) += s
        acc
      },
      combOp = { (a, b) =>
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      },
      depth = cfg.treeAggregateDepth)
    GlmMath.finishGradient(hv, norm, fitI, fDim)
    hv
  }

  /** Diagonal of the Hessian (HessianDiagonalAggregator.scala:33-) for
    * diagonal coefficient variances (incremental training priors). */
  def hessianDiagonal(w: Array[Double]): Array[Double] = {
    val loss = cfg.loss
    val fitI = cfg.fitIntercept
    val norm = cfg.norm
    val d = dim
    val fDim = featureDim
    val ew = GlmMath.effectiveCoef(w, norm, fitI)
    val shift = GlmMath.marginShift(ew, norm)
    val hd = rdd.treeAggregate(new Array[Double](d))(
      seqOp = { (acc, p) =>
        val z = GlmMath.margin(ew, shift, fitI, fDim, p.features, p.offset)
        val c = p.weight * loss.d2z(z, p.label)
        p.features.foreachActive { (i, x) => acc(i) += c * x * x }
        if (fitI) acc(fDim) += c
        acc
      },
      combOp = { (a, b) =>
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      },
      depth = cfg.treeAggregateDepth)
    // diagonal in normalized space: (f_j (x_j - s_j))^2 — only exact when
    // shifts are absent; with shifts we fall back to factor^2 scaling of
    // the x^2 accumulation (dominant term), as the reference does.
    cfg.norm.factors.foreach { f =>
      var i = 0
      while (i < f.length) { hd(i) *= f(i) * f(i); i += 1 }
    }
    hd
  }

  /** Full Hessian matrix Σ wᵢ·d2zᵢ·xᵢxᵢᵀ (+ intercept row/col), flattened
    * row-major d×d (HessianMatrixAggregator.scala:33-129). O(d²) buffer
    * per task — only for FULL variance computation on models narrow
    * enough that d² doubles fit comfortably (the reference carries the
    * same restriction; use "simple" variances for wide models). Computed
    * over raw features; normalization scaling is applied by the caller. */
  def hessianMatrix(w: Array[Double]): Array[Double] = {
    require(dim.toLong * dim <= 64L * 1024 * 1024,
      s"full Hessian needs ${dim}x$dim doubles; use simple variances")
    val loss = cfg.loss
    val fitI = cfg.fitIntercept
    val norm = cfg.norm
    val d = dim
    val fDim = featureDim
    val ew = GlmMath.effectiveCoef(w, norm, fitI)
    val shift = GlmMath.marginShift(ew, norm)
    rdd.treeAggregate(new Array[Double](d * d))(
      seqOp = { (acc, p) =>
        val z = GlmMath.margin(ew, shift, fitI, fDim, p.features, p.offset)
        val c = p.weight * loss.d2z(z, p.label)
        p.features.foreachActive { (i, xi) =>
          val ci = c * xi
          p.features.foreachActive { (j, xj) =>
            acc(i * d + j) += ci * xj
          }
          if (fitI) {
            acc(i * d + fDim) += ci
            acc(fDim * d + i) += ci
          }
        }
        if (fitI) acc(fDim * d + fDim) += c
        acc
      },
      combOp = { (a, b) =>
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      },
      depth = cfg.treeAggregateDepth)
  }

  /** One-pass moments for the SQUARED-loss normal equations:
    * A = Σ wᵢ·x̃ᵢx̃ᵢᵀ (row-major d×d, intercept slot last) and
    * b = Σ wᵢ·(yᵢ−offsetᵢ)·x̃ᵢ. Minimizing Σ wᵢ·½(x̃ᵢ·β − (yᵢ−offsetᵢ))²
    * + quadratic reg is then the single linear solve
    * (A + diag(a))β = b + a∘c — the optimum LBFGS/TRON iterate toward,
    * in ONE Spark job instead of one per iteration. Raw feature space
    * (callers require identity normalization). */
  def normalEquations(): (Array[Double], Array[Double]) = {
    require(dim.toLong * dim <= 64L * 1024 * 1024,
      s"normal equations need ${dim}x$dim doubles; use an iterative solver")
    val fitI = cfg.fitIntercept
    val d = dim
    val fDim = featureDim
    rdd.treeAggregate((new Array[Double](d * d), new Array[Double](d)))(
      seqOp = { case (acc @ (a, b), p) =>
        val t = p.label - p.offset
        p.features.foreachActive { (i, xi) =>
          val wxi = p.weight * xi
          b(i) += wxi * t
          p.features.foreachActive { (j, xj) => a(i * d + j) += wxi * xj }
          if (fitI) { a(i * d + fDim) += wxi; a(fDim * d + i) += wxi }
        }
        if (fitI) { a(fDim * d + fDim) += p.weight; b(fDim) += p.weight * t }
        acc
      },
      combOp = { case (x @ (a1, b1), (a2, b2)) =>
        var i = 0
        while (i < a1.length) { a1(i) += a2(i); i += 1 }
        i = 0
        while (i < b1.length) { b1(i) += b2(i); i += 1 }
        x
      },
      depth = cfg.treeAggregateDepth)
  }

  /** Release the cache if this objective persisted it. */
  def unpersist(): Unit = if (owned) cached.unpersist(false)
}

/** The same objective over in-memory samples — the per-entity (random
  * effect) path. Runs inside `flatMapGroups` on executors
  * (SingleNodeGLMLossFunction equivalent). */
class LocalGlmObjective(data: Array[LabeledPoint], featureDim: Int,
                        cfg: GlmConfig) extends Serializable {
  private val dim = cfg.coefDim(featureDim)

  def valueAndGradient(w: Array[Double]): (Double, Array[Double], Double) = {
    val ew = GlmMath.effectiveCoef(w, cfg.norm, cfg.fitIntercept)
    val shift = GlmMath.marginShift(ew, cfg.norm)
    val grad = new Array[Double](dim)
    var l = 0.0
    var ws = 0.0
    var i = 0
    while (i < data.length) {
      val p = data(i)
      l += GlmMath.accumulate(cfg.loss, ew, shift, cfg.fitIntercept,
        featureDim, p.label, p.features, p.offset, p.weight, grad)
      ws += p.weight
      i += 1
    }
    GlmMath.finishGradient(grad, cfg.norm, cfg.fitIntercept, featureDim)
    (l, grad, ws)
  }

  /** Hessian diagonal at w (local twin of the distributed aggregator) —
    * per-entity SIMPLE variances for incremental random effects. */
  def hessianDiagonal(w: Array[Double]): Array[Double] = {
    val ew = GlmMath.effectiveCoef(w, cfg.norm, cfg.fitIntercept)
    val shift = GlmMath.marginShift(ew, cfg.norm)
    val hd = new Array[Double](dim)
    var i = 0
    while (i < data.length) {
      val p = data(i)
      val z = GlmMath.margin(ew, shift, cfg.fitIntercept, featureDim,
        p.features, p.offset)
      val c = p.weight * cfg.loss.d2z(z, p.label)
      p.features.foreachActive { (j, x) => hd(j) += c * x * x }
      if (cfg.fitIntercept) hd(featureDim) += c
      i += 1
    }
    cfg.norm.factors.foreach { f =>
      var j = 0
      while (j < f.length) { hd(j) *= f(j) * f(j); j += 1 }
    }
    hd
  }

  /** Local twin of [[DistributedGlmObjective.normalEquations]] — the
    * per-entity squared-loss closed form (one loop over the group's
    * samples instead of ~maxIter LBFGS gradient loops). */
  def normalEquations(): (Array[Double], Array[Double]) = {
    val fitI = cfg.fitIntercept
    val d = dim
    val fDim = featureDim
    val a = new Array[Double](d * d)
    val b = new Array[Double](d)
    var r = 0
    while (r < data.length) {
      val p = data(r)
      val t = p.label - p.offset
      p.features.foreachActive { (i, xi) =>
        val wxi = p.weight * xi
        b(i) += wxi * t
        p.features.foreachActive { (j, xj) => a(i * d + j) += wxi * xj }
        if (fitI) { a(i * d + fDim) += wxi; a(fDim * d + i) += wxi }
      }
      if (fitI) { a(fDim * d + fDim) += p.weight; b(fDim) += p.weight * t }
      r += 1
    }
    (a, b)
  }
}
