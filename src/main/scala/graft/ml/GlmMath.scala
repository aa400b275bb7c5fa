package graft.ml

import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector}

/** Per-sample GLM math: margins, sparse dot/axpy and the gradient
  * finish. The kernels in Objectives.scala (`GlmKernel`) are built from
  * it, and each kernel is written once for both the fixed-effect
  * `treeAggregate` and the per-entity loop, so the two cannot drift.
  *
  * Normalization is folded in via the reference's effective-coefficients
  * trick (photon-lib/.../function/glm/ValueAndGradientAggregator.scala:
  * 62-104,216-233): for x' = (x - shift) .* factor, the margin over
  * normalized features equals ew·x + (b - ew·shift) with ew = w .* factor,
  * so the data is never densified or rewritten — crucial when x is a
  * sparse 10M-dim vector and shift would densify it.
  */
final case class Normalization(factors: Option[Array[Double]],
                               shifts: Option[Array[Double]]) {
  def isIdentity: Boolean = factors.isEmpty && shifts.isEmpty
}

object Normalization {
  val identity: Normalization = Normalization(None, None)

  /** STANDARDIZATION: x' = (x - mean) / stddev (stddev 0 → 1). */
  def standardization(mean: Array[Double], std: Array[Double]): Normalization =
    Normalization(Some(std.map(s => if (s == 0.0) 1.0 else 1.0 / s)),
      Some(mean))

  /** SCALE_WITH_STANDARD_DEVIATION: x' = x / stddev. */
  def scaleWithStd(std: Array[Double]): Normalization =
    Normalization(Some(std.map(s => if (s == 0.0) 1.0 else 1.0 / s)), None)

  /** SCALE_WITH_MAX_MAGNITUDE: x' = x / maxAbs. */
  def scaleWithMaxMagnitude(maxAbs: Array[Double]): Normalization =
    Normalization(Some(maxAbs.map(m => if (m == 0.0) 1.0 else 1.0 / m)), None)
}

object GlmMath {

  /** Effective coefficients for normalization folding: ew = w .* factor
    * (identity normalization returns `w` itself, no copy). The intercept
    * (last slot when fitIntercept) is NOT scaled. */
  def effectiveCoef(w: Array[Double], norm: Normalization,
                    fitIntercept: Boolean): Array[Double] = norm.factors match {
    case None => w
    case Some(f) =>
      val ew = w.clone()
      var i = 0
      while (i < f.length) { ew(i) = w(i) * f(i); i += 1 }
      ew
  }

  /** v_j *= factor_j² over the feature slots, in place (identity: v as
    * it is) — a diagonal curvature or variance changing space. */
  def scaleByFactorSquared(v: Array[Double],
                           norm: Normalization): Array[Double] = {
    norm.factors.foreach { f =>
      var i = 0
      while (i < f.length) { v(i) *= f(i) * f(i); i += 1 }
    }
    v
  }

  /** Margin shift from normalization: -(ew·shift); 0 for identity. */
  def marginShift(ew: Array[Double], norm: Normalization): Double =
    norm.shifts match {
      case None => 0.0
      case Some(sh) =>
        var acc = 0.0
        var i = 0
        while (i < sh.length) { acc -= ew(i) * sh(i); i += 1 }
        acc
    }

  /** Sparse-aware dot of coefficients with a feature vector. */
  def dot(w: Array[Double], x: Vector): Double = x match {
    case d: DenseVector =>
      val xs = d.values
      var acc = 0.0
      var i = 0
      while (i < xs.length) { acc += w(i) * xs(i); i += 1 }
      acc
    case s: SparseVector =>
      val idx = s.indices
      val xs = s.values
      var acc = 0.0
      var i = 0
      while (i < idx.length) { acc += w(idx(i)) * xs(i); i += 1 }
      acc
  }

  /** grad += scale * x (sparse-aware axpy). */
  def axpy(scale: Double, x: Vector, grad: Array[Double]): Unit = x match {
    case d: DenseVector =>
      val xs = d.values
      var i = 0
      while (i < xs.length) { grad(i) += scale * xs(i); i += 1 }
    case s: SparseVector =>
      val idx = s.indices
      val xs = s.values
      var i = 0
      while (i < idx.length) { grad(idx(i)) += scale * xs(i); i += 1 }
  }

  /** Margin for one sample under effective coefficients:
    * ew·x + shift + offset (+ intercept). */
  def margin(ew: Array[Double], shift: Double, fitIntercept: Boolean,
             dim: Int, x: Vector, offset: Double): Double =
    dot(ew, x) + shift + offset + (if (fitIntercept) ew(dim) else 0.0)

  /** Accumulate weighted (loss, gradient) of one sample into (grad, out);
    * returns the loss contribution. The gradient is with respect to the
    * NORMALIZED-space coefficients: grad_j = w_r * dz * factor_j * x_j,
    * which equals accumulating dz * x into a raw-gradient buffer and
    * scaling by factor at the end — we do the latter (cheaper). */
  def accumulate(loss: PointwiseLoss, ew: Array[Double], shift: Double,
                 fitIntercept: Boolean, dim: Int,
                 label: Double, x: Vector, offset: Double, weight: Double,
                 grad: Array[Double]): Double = {
    val z = margin(ew, shift, fitIntercept, dim, x, offset)
    val (l, dz) = loss.lossAndDz(z, label)
    axpy(weight * dz, x, grad)
    if (fitIntercept) grad(dim) += weight * dz
    weight * l
  }

  /** Post-pass to convert a raw-space gradient buffer into the
    * normalized-space gradient: grad_j *= factor_j; also applies the shift
    * correction for the intercept slot:
    * d margin / d b = 1, d margin / d w_j includes -factor_j*shift_j only
    * through ew — handled because margin used ew·x + b - ew·shift:
    * d z/d w_j = factor_j*(x_j - shift_j), so grad_j = factor_j*(gx_j) -
    * factor_j*shift_j*gb where gx is the x-accumulated buffer and gb the
    * intercept slot (sum of weighted dz). */
  def finishGradient(grad: Array[Double], norm: Normalization,
                     fitIntercept: Boolean, dim: Int): Unit = {
    val gb = if (fitIntercept) grad(dim) else {
      // without an intercept slot we still need sum(w*dz) for the shift
      // correction; callers must use fitIntercept=true whenever shifts are
      // present (standardization implies an intercept).
      0.0
    }
    norm.factors match {
      case Some(f) =>
        var i = 0
        while (i < f.length) { grad(i) *= f(i); i += 1 }
      case None =>
    }
    norm.shifts match {
      case Some(sh) =>
        val f = norm.factors
        var i = 0
        while (i < sh.length) {
          val fi = f.map(_(i)).getOrElse(1.0)
          grad(i) -= fi * sh(i) * gb
          i += 1
        }
      case None =>
    }
  }
}
