package graft.ml

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{DiffFunction, LBFGS => BreezeLBFGS, LBFGSB => BreezeLBFGSB, OWLQN => BreezeOWLQN}

/** Driver-side optimizers over a value+gradient oracle.
  *
  * Mirrors the reference's optimizer lineup (photon-lib/.../optimization/:
  * LBFGS.scala:38-147, OWLQN.scala:39-83, LBFGSB.scala:39-92,
  * TRON.scala:78-330). The distributed part of each iteration is only the
  * oracle call (one Spark job); the quasi-Newton bookkeeping is cheap and
  * stays on the driver — same split the reference (and MLlib) uses, which
  * is the design that scales: executors never see optimizer state.
  *
  * L2 regularization is applied here (value + gradient + Hessian terms),
  * NOT in the aggregators, matching the reference's L2Regularization mixin.
  * The intercept (last slot) is never regularized.
  */
object Optimizers {

  type Oracle = Array[Double] => (Double, Array[Double], Double)

  /** Quadratic (smooth) regularization in NORMALIZED coefficient space:
    * value 0.5·Σ a(i)·(w(i)−c(i))², covering plain L2 (c = 0, a = l2 on
    * features only) and the Gaussian incremental-training prior
    * (c = prior means, a = incrementalWeight/σ², zero-variance slots
    * falling back to l2 — PriorDistribution.scala:75-88). */
  private[ml] final case class QuadReg(center: Array[Double],
                                       weight: Array[Double]) {
    def value(w: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < weight.length) {
        val d = w(i) - center(i); s += weight(i) * d * d; i += 1
      }
      0.5 * s
    }
    def addGrad(w: Array[Double], g: Array[Double]): Unit = {
      var i = 0
      while (i < weight.length) {
        g(i) += weight(i) * (w(i) - center(i)); i += 1
      }
    }
    def addHv(v: Array[Double], r: Array[Double]): Unit = {
      var i = 0
      while (i < weight.length) { r(i) += weight(i) * v(i); i += 1 }
    }
    def diagonal: Array[Double] = weight
  }

  private[ml] object QuadReg {
    /** Build the regularizer for a config in normalized space: prior
      * means divide by the normalization factor, prior variances by its
      * square (w_orig = w_norm·factor ⇒ μ_t = μ/f, σ²_t = σ²/f²). */
    def from(cfg: GlmConfig, dim: Int, featureDim: Int): QuadReg =
      cfg.prior match {
        case None =>
          val a = new Array[Double](dim)
          java.util.Arrays.fill(a, 0, featureDim, cfg.l2)
          QuadReg(new Array[Double](dim), a)
        case Some(p) =>
          require(p.means.length == dim && p.variances.length == dim,
            s"prior arrays must have length $dim")
          val c = new Array[Double](dim)
          val a = new Array[Double](dim)
          val f = cfg.norm.factors
          var i = 0
          while (i < dim) {
            val fi = f.filter(_ => i < featureDim).map(_(i)).getOrElse(1.0)
            c(i) = p.means(i) / fi
            a(i) =
              if (p.variances(i) > 0)
                p.incrementalWeight * fi * fi / p.variances(i)
              else cfg.l2
            i += 1
          }
          QuadReg(c, a)
      }
  }

  /** Exact weighted-ridge solve of the squared-loss normal equations:
    * (A + diag(a))·w = b + a∘c by Cholesky, where A/b are the one-pass
    * moments from `normalEquations()` and (c, a) is the quadratic
    * regularizer. This is the unique optimum every iterative solver
    * converges TOWARD when the loss is quadratic — one data pass instead
    * of one per LBFGS/TRON iteration. Throws on a singular system
    * (e.g. collinear features with l2 = 0); callers fall back to LBFGS. */
  def normalSolve(a: Array[Double], b: Array[Double], dim: Int,
                  reg: QuadReg): Array[Double] = {
    import breeze.linalg.{cholesky, DenseMatrix, DenseVector}
    val h = new DenseMatrix[Double](dim, dim, a.clone())
    val rhs = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      h(i, i) += reg.weight(i)
      rhs(i) = b(i) + reg.weight(i) * reg.center(i)
      i += 1
    }
    val l = cholesky(h)
    graft.ml.tuning.GpMath.cholSolve(l, DenseVector(rhs)).data
  }

  /** Wrap an oracle as a breeze DiffFunction with the quadratic
    * regularizer added. */
  private def diffFn(oracle: Oracle, reg: QuadReg)
  : DiffFunction[BDV[Double]] = new DiffFunction[BDV[Double]] {
    def calculate(w: BDV[Double]): (Double, BDV[Double]) = {
      val (l, g, _) = oracle(w.data)
      reg.addGrad(w.data, g)
      (l + reg.value(w.data), BDV(g))
    }
  }

  /** LBFGS (optionally + L2/prior), warm-startable. `tracker` records
    * one state per accepted iteration (L1 state tracking). */
  def lbfgs(oracle: Oracle, dim: Int, featureDim: Int, cfg: GlmConfig,
            init: Option[Array[Double]] = None,
            tracker: Option[StatesTracker] = None): Array[Double] =
    minimize(new BreezeLBFGS[BDV[Double]](maxIter = cfg.maxIter, m = 10,
      tolerance = cfg.tol), oracle, dim, featureDim, cfg, init, tracker)

  /** OWLQN for L1 (+ optional L2/prior); L1 never applies to the
    * intercept. */
  def owlqn(oracle: Oracle, dim: Int, featureDim: Int, cfg: GlmConfig,
            init: Option[Array[Double]] = None,
            tracker: Option[StatesTracker] = None): Array[Double] = {
    val l1Fn = (i: Int) => if (i < featureDim) cfg.l1 else 0.0
    minimize(new BreezeOWLQN[Int, BDV[Double]](cfg.maxIter, 10, l1Fn,
      cfg.tol), oracle, dim, featureDim, cfg, init, tracker)
  }

  /** The body LBFGS and OWLQN share (OWLQN is breeze's LBFGS with an L1
    * step): start from `init` when its length fits, else zeros, and record
    * each iterate's state into `tracker`. */
  private def minimize(opt: BreezeLBFGS[BDV[Double]], oracle: Oracle,
                       dim: Int, featureDim: Int, cfg: GlmConfig,
                       init: Option[Array[Double]],
                       tracker: Option[StatesTracker]): Array[Double] = {
    val w0 = init.filter(_.length == dim).map(a => BDV(a.clone()))
      .getOrElse(BDV.zeros[Double](dim))
    val fn = diffFn(oracle, QuadReg.from(cfg, dim, featureDim))
    tracker match {
      case None => opt.minimize(fn, w0).data
      case Some(t) =>
        var result = w0
        opt.iterations(fn, w0).foreach { s =>
          result = s.x; t.record(s.value, breeze.linalg.norm(s.grad))
        }
        result.data
    }
  }

  /** LBFGSB box-constrained (the reference's constrained training path).
    * Starts from zeros clamped into the box (LBFGSB needs a feasible
    * start). */
  def lbfgsb(oracle: Oracle, lower: Array[Double], upper: Array[Double],
             featureDim: Int, cfg: GlmConfig): Array[Double] = {
    val dim = lower.length
    val opt = new BreezeLBFGSB(BDV(lower), BDV(upper),
      maxIter = cfg.maxIter, tolerance = cfg.tol)
    val start = Array.tabulate(dim)(i =>
      math.min(math.max(0.0, lower(i)), upper(i)))
    opt.minimize(diffFn(oracle, QuadReg.from(cfg, dim, featureDim)),
      BDV(start)).data
  }

  /** Trust-region Newton (TRON, reference TRON.scala:78-330): outer trust
    * region + inner truncated conjugate gradient where each H·v is one
    * distributed pass. Follows the published LIBLINEAR algorithm (Lin &
    * Moré; Hsia et al.) — standard eta/sigma constants. */
  def tron(oracle: Oracle, hv: (Array[Double], Array[Double]) => Array[Double],
           dim: Int, featureDim: Int, cfg: GlmConfig,
           maxCgIter: Int = 20,
           tracker: Option[StatesTracker] = None): Array[Double] = {
    val (eta0, eta1, eta2) = (1e-4, 0.25, 0.75)
    val (sigma1, sigma2, sigma3) = (0.25, 0.5, 4.0)
    val reg = QuadReg.from(cfg, dim, featureDim)

    def withL2Value(w: Array[Double]): (Double, Array[Double]) = {
      val (l, g, _) = oracle(w)
      reg.addGrad(w, g)
      (l + reg.value(w), g)
    }
    def withL2Hv(w: Array[Double], v: Array[Double]): Array[Double] = {
      val r = hv(w, v)
      reg.addHv(v, r)
      r
    }
    def norm2(a: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      math.sqrt(s)
    }
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }

    /** truncated CG for H s = -g within radius delta; returns (s, r). */
    def trcg(w: Array[Double], g: Array[Double], delta: Double)
    : (Array[Double], Array[Double]) = {
      val s = new Array[Double](dim)
      val r = g.map(-_)
      val d = r.clone()
      var rSq = dotA(r, r)
      val cgTol = 0.1 * norm2(g)
      var iter = 0
      var done = false
      while (!done && iter < maxCgIter && math.sqrt(rSq) > cgTol) {
        val hd = withL2Hv(w, d)
        val dHd = dotA(d, hd)
        if (dHd <= 0) {
          // negative curvature: walk to the boundary
          val (a, b2, c) = (dotA(d, d), 2 * dotA(s, d),
            dotA(s, s) - delta * delta)
          val tau = (-b2 + math.sqrt(b2 * b2 - 4 * a * c)) / (2 * a)
          var i = 0
          while (i < dim) { s(i) += tau * d(i); r(i) -= tau * hd(i); i += 1 }
          done = true
        } else {
          var alpha = rSq / dHd
          val sNew = s.clone()
          var i = 0
          while (i < dim) { sNew(i) += alpha * d(i); i += 1 }
          if (norm2(sNew) >= delta) {
            val (a, b2, c) = (dotA(d, d), 2 * dotA(s, d),
              dotA(s, s) - delta * delta)
            val tau = (-b2 + math.sqrt(b2 * b2 - 4 * a * c)) / (2 * a)
            i = 0
            while (i < dim) { s(i) += tau * d(i); r(i) -= tau * hd(i); i += 1 }
            done = true
          } else {
            System.arraycopy(sNew, 0, s, 0, dim)
            i = 0
            while (i < dim) { r(i) -= alpha * hd(i); i += 1 }
            val rSqNew = dotA(r, r)
            val beta = rSqNew / rSq
            i = 0
            while (i < dim) { d(i) = r(i) + beta * d(i); i += 1 }
            rSq = rSqNew
          }
        }
        iter += 1
      }
      (s, r)
    }

    var w = new Array[Double](dim)
    var (f, g) = withL2Value(w)
    var delta = norm2(g)
    val gNorm0 = delta
    var iter = 0
    while (iter < cfg.maxIter && norm2(g) > cfg.tol * math.max(gNorm0, 1.0)
      && delta > 1e-12) {
      val (s, r) = trcg(w, g, delta)
      val wNew = w.clone()
      var i = 0
      while (i < dim) { wNew(i) += s(i); i += 1 }
      val (fNew, gNew) = withL2Value(wNew)
      // predicted reduction: -0.5*(g·s - s·r)  (LIBLINEAR identity)
      val gs = dotA(g, s)
      val pred = -0.5 * (gs - dotA(s, r))
      val actual = f - fNew
      val sNorm = norm2(s)
      // radius update
      val alpha =
        if (fNew - f - gs <= 0) sigma3
        else math.max(sigma1, -0.5 * (gs / (fNew - f - gs)))
      if (actual < eta0 * pred)
        delta = math.min(math.max(alpha, sigma1) * sNorm, sigma2 * delta)
      else if (actual < eta1 * pred)
        delta = math.max(sigma1 * delta, math.min(alpha * sNorm,
          sigma2 * delta))
      else if (actual < eta2 * pred)
        delta = math.max(sigma1 * delta, math.min(alpha * sNorm,
          sigma3 * delta))
      else
        delta = math.max(delta, math.min(alpha * sNorm, sigma3 * delta))
      if (actual > eta0 * pred) { w = wNew; f = fNew; g = gNew }
      tracker.foreach(_.record(f, norm2(g)))
      iter += 1
    }
    w
  }
}
