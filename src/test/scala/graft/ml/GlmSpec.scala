package graft.ml

import graft.SparkSpec
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.linalg.{Vectors, Vector}
import org.apache.spark.ml.regression.LinearRegression

/** GLM training cross-checks: our solvers vs Spark MLlib on identical
  * synthetic data (BASELINE.md: coefficients within 1e-4 relative on
  * offset-free logistic and linear fits), plus normalization-folding and
  * TRON-vs-LBFGS consistency. */
class GlmSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic synthetic GLM data: x ~ fixed pseudo-random grid,
    * margin = w·x + b, labels from the loss's mean. */
  def synthetic(n: Int, wTrue: Array[Double], bTrue: Double,
                logistic: Boolean): Seq[LabeledPoint] = {
    val rnd = new scala.util.Random(42)
    (0 until n).map { _ =>
      val x = Vectors.dense(Array.fill(wTrue.length)(rnd.nextGaussian()))
      val z = GlmMath.dot(wTrue, x) + bTrue
      val label =
        if (logistic) { if (rnd.nextDouble() < PointwiseLoss.sigmoid(z)) 1.0 else 0.0 }
        else z + 0.1 * rnd.nextGaussian()
      LabeledPoint(label, x)
    }
  }

  test("logistic regression matches MLlib coefficients") {
    val data = synthetic(4000, Array(1.5, -2.0, 0.7), 0.4, logistic = true)
    val ds = spark.createDataset(data)
    val model = Glm.train(ds, 3,
      GlmConfig(LogisticLoss, l2 = 1.0, maxIter = 200, tol = 1e-9))

    val mllibDf = ds.map(p => (p.label, p.features)).toDF("label", "features")
    // MLlib regParam is lambda/n with standardization off to match ours
    val lr = new LogisticRegression().setRegParam(1.0 / 4000)
      .setStandardization(false).setMaxIter(200).setTol(1e-9)
      .setFitIntercept(true)
    val mllib = lr.fit(mllibDf)

    mllib.coefficients.toArray.zip(model.coef).foreach { case (a, b) =>
      assert(math.abs(a - b) / math.max(1e-3, math.abs(a)) < 1e-3,
        s"coef mismatch: mllib=$a ours=$b")
    }
    assert(math.abs(mllib.intercept - model.intercept) < 1e-3)
  }

  test("linear regression matches MLlib coefficients") {
    val data = synthetic(3000, Array(2.0, -1.0), -0.5, logistic = false)
    val ds = spark.createDataset(data)
    val model = Glm.train(ds, 2,
      GlmConfig(SquaredLoss, l2 = 0.0, maxIter = 200, tol = 1e-10))

    val lr = new LinearRegression().setRegParam(0.0)
      .setStandardization(false).setMaxIter(200).setTol(1e-10)
    val mllib = lr.fit(ds.map(p => (p.label, p.features))
      .toDF("label", "features"))
    // MLlib minimizes (1/2n)Σ(z-y)^2; argmin identical to ours (Σ form)
    mllib.coefficients.toArray.zip(model.coef).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-3, s"coef mismatch: mllib=$a ours=$b")
    }
    assert(math.abs(mllib.intercept - model.intercept) < 1e-3)
  }

  test("offsets shift the linear fit as expected") {
    // y = 2x + offset exactly: with offsets supplied, w -> 2, b -> 0
    val pts = (1 to 200).map { i =>
      val x = i / 100.0
      LabeledPoint(2 * x + 5.0, Vectors.dense(x), offset = 5.0)
    }
    val m = Glm.train(spark.createDataset(pts), 1,
      GlmConfig(SquaredLoss, maxIter = 100, tol = 1e-12))
    assert(math.abs(m.coef(0) - 2.0) < 1e-6)
    assert(math.abs(m.intercept) < 1e-6)
  }

  test("standardization folding equals explicit pre-normalization") {
    val data = synthetic(2000, Array(0.8, -1.2), 0.3, logistic = true)
      .map(p => p.copy(features = Vectors.dense(
        p.features(0) * 10 + 3, p.features(1) * 0.01 - 2)))
    val ds = spark.createDataset(data)
    val stats = FeatureStats.summarize(ds.toDF(), "features")
    val norm = FeatureStats.normalization("STANDARDIZATION", stats)
    val cfg = GlmConfig(LogisticLoss, l2 = 0.1, maxIter = 200, tol = 1e-9)

    // folded: train on raw data with norm context
    val folded = Glm.train(ds, 2, cfg.copy(norm = norm))

    // explicit: materialize normalized features, train identity-norm,
    // then map coefficients back to original space by the same algebra
    val mean = stats.mean; val std = stats.sanitizedStd
    val explicitDs = ds.map(p => p.copy(features = Vectors.dense(
      Array.tabulate(2)(j => (p.features(j) - mean(j)) / std(j)))))
    val me = Glm.train(explicitDs, 2, cfg)
    val backCoef = Array.tabulate(2)(j => me.coef(j) / std(j))
    val backB = me.intercept - backCoef.zip(mean).map(t => t._1 * t._2).sum

    folded.coef.zip(backCoef).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-5, s"folded=$a explicit=$b")
    }
    assert(math.abs(folded.intercept - backB) < 1e-5)
  }

  test("TRON reaches the same solution as LBFGS") {
    val data = synthetic(2000, Array(1.0, -0.5, 0.25), 0.2, logistic = true)
    val ds = spark.createDataset(data)
    val cfg = GlmConfig(LogisticLoss, l2 = 1.0, maxIter = 100, tol = 1e-9)
    val a = Glm.train(ds, 3, cfg, solver = "lbfgs")
    val b = Glm.train(ds, 3, cfg, solver = "tron")
    a.coef.zip(b.coef).foreach { case (x, y) =>
      assert(math.abs(x - y) < 1e-4, s"lbfgs=$x tron=$y")
    }
    assert(math.abs(a.intercept - b.intercept) < 1e-4)
  }

  test("auto squared-loss closed form equals the forced LBFGS solution") {
    val data = synthetic(2500, Array(1.2, -0.6, 0.9), -0.4, logistic = false)
    val ds = spark.createDataset(data)
    val cfg = GlmConfig(SquaredLoss, l2 = 0.3, maxIter = 300, tol = 1e-12)
    val closed = Glm.train(ds, 3, cfg) // auto → normal equations
    val forcedNormal = Glm.train(ds, 3, cfg, solver = "normal")
    val iterative = Glm.train(ds, 3, cfg, solver = "lbfgs")
    closed.coef.zip(iterative.coef).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-7, s"closed=$a lbfgs=$b")
    }
    assert(math.abs(closed.intercept - iterative.intercept) < 1e-7)
    // explicit "normal" takes the same path (ulp-level differences only:
    // treeAggregate's combine order is not deterministic run to run)
    closed.coef.zip(forcedNormal.coef).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12, s"auto=$a normal=$b")
    }
    assert(math.abs(closed.intercept - forcedNormal.intercept) < 1e-12)
    // local (per-entity) path agrees with the distributed one
    val local = Glm.trainLocal(data.toArray, 3, cfg)
    closed.coef.zip(local.coef).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"dist=$a local=$b")
    }
  }

  test("closed form honors the Gaussian prior as a quadratic penalty") {
    val data = synthetic(500, Array(1.0), 0.0, logistic = false)
    val ds = spark.createDataset(data)
    // overwhelming prior pins the solution at the prior means
    val prior = GaussianPrior(Array(5.0, 2.0), Array(1e-9, 1e-9))
    val m = Glm.train(ds, 1, GlmConfig(SquaredLoss, prior = Some(prior),
      maxIter = 100, tol = 1e-10))
    assert(math.abs(m.coef(0) - 5.0) < 1e-3, s"coef=${m.coef(0)}")
    assert(math.abs(m.intercept - 2.0) < 1e-3, s"b=${m.intercept}")
    // vanishing prior weight recovers the unregularized fit
    val weak = Glm.train(ds, 1, GlmConfig(SquaredLoss,
      prior = Some(prior.copy(incrementalWeight = 1e-12)),
      maxIter = 100, tol = 1e-10))
    assert(math.abs(weak.coef(0) - 1.0) < 0.05)
  }

  test("closed form falls back to LBFGS on a singular system") {
    // two perfectly collinear features with l2 = 0 → singular normal
    // equations; the fallback must still return a finite minimizer
    val pts = (1 to 300).map { i =>
      val x = i / 100.0
      LabeledPoint(3.0 * x, Vectors.dense(x, 2 * x))
    }
    val m = Glm.train(spark.createDataset(pts), 2,
      GlmConfig(SquaredLoss, l2 = 0.0, maxIter = 200, tol = 1e-10))
    assert(m.coef.forall(c => !c.isNaN && !c.isInfinite))
    // any minimizer satisfies w1 + 2·w2 = 3 on this data
    assert(math.abs(m.coef(0) + 2 * m.coef(1) - 3.0) < 1e-4,
      s"coef=${m.coef.toSeq}")
  }

  test("OWLQN drives small true-zero coefficients to exactly zero") {
    val data = synthetic(3000, Array(1.5, 0.0, 0.0, -1.0), 0.0,
      logistic = true)
    val ds = spark.createDataset(data)
    val m = Glm.train(ds, 4,
      GlmConfig(LogisticLoss, l1 = 120.0, maxIter = 200, tol = 1e-8))
    assert(m.coef(1) == 0.0 && m.coef(2) == 0.0,
      s"expected sparsity, got ${m.coef.mkString(",")}")
    assert(math.abs(m.coef(0)) > 0.1 && math.abs(m.coef(3)) > 0.1)
  }

  test("regularization path warm start is consistent with direct fits") {
    val data = synthetic(1500, Array(1.0, -1.0), 0.1, logistic = true)
    val ds = spark.createDataset(data)
    val base = GlmConfig(LogisticLoss, maxIter = 200, tol = 1e-9)
    val path = Glm.regularizationPath(ds, 2, base, Seq(10.0, 1.0, 0.1))
    val direct = Glm.train(ds, 2, base.copy(l2 = 0.1))
    path(0.1).coef.zip(direct.coef).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-4, s"path=$a direct=$b")
    }
    assert(path.size == 3)
  }

  test("local and distributed objectives run the same kernels") {
    // 50k rows: the distributed iteration view keeps >= 25k rows per
    // partition, so 3 input partitions stay 3 (and 1 stays 1)
    val data = synthetic(50000, Array(0.8, -1.2, 0.5), 0.3, logistic = true)
      .zipWithIndex.map { case (p, i) =>
        val x = p.features
        p.copy(features = Vectors.dense(x(0) * 10 + 3, x(1) * 0.01 - 2,
          x(2)), offset = 0.05 * x(2), weight = 0.5 + i % 3)
      }
    val f = Array(0.1, 100.0, 1.0)
    val sh = Array(3.0, -2.0, 0.0)
    val cfg = GlmConfig(LogisticLoss, l2 = 0.1,
      norm = Normalization(Some(f), Some(sh)),
      prior = Some(GaussianPrior(Array(0.5, -1.0, 0.2, 0.1),
        Array(0.5, 2.0, 1.0, 0.0))))
    val w = Array(0.3, -0.2, 0.1, 0.05)
    val v = Array(1.0, 0.5, -0.25, 2.0)
    def aggregates(o: GlmObjective): Seq[Array[Double]] = {
      val (l, g, ws) = o.valueAndGradient(w)
      val (a, b) = o.normalEquations()
      Seq(Array(l, ws), g, o.hessianDiagonal(w), a, b)
    }
    def close(got: Array[Double], want: Array[Double], rel: Double): Unit = {
      val scale = want.map(math.abs).max
      got.zip(want).foreach { case (x, y) =>
        assert(math.abs(x - y) <= rel * scale, s"$x vs $y")
      }
    }
    val local = new LocalGlmObjective(data.toArray, 3, cfg)
    val want = aggregates(local)
    Seq(1, 3).foreach { parts =>
      val dist = new DistributedGlmObjective(spark.createDataset(
        spark.sparkContext.parallelize(data, parts)), 3, cfg)
      aggregates(dist).zip(want).foreach { case (got, exp) =>
        if (parts == 1) assert(got.toSeq == exp.toSeq)
        else close(got, exp, 1e-12)
      }
      dist.unpersist()
    }

    // hessianMatrix sums raw x~ x~T; hessianVector works in normalized
    // space, so the matrix maps through the normalization's Jacobian J
    // (raw margin coefficients = J * normalized ones): H_n v = J^T H J v.
    // Under identity normalization J = I and H_n v = H v. The shifts make
    // J^T H J cancel (x1 sits near its shift), hence the looser bound.
    Seq(cfg -> 1e-9, cfg.copy(norm = Normalization.identity) -> 1e-12)
      .foreach { case (c, rel) =>
      val o = new LocalGlmObjective(data.toArray, 3, c)
      val fs = c.norm.factors.getOrElse(Array.fill(3)(1.0))
      val ss = c.norm.shifts.getOrElse(Array.fill(3)(0.0))
      val h = o.hessianMatrix(w)
      val u = Array.tabulate(4)(j => if (j < 3) fs(j) * v(j)
        else v(3) - (0 until 3).map(k => fs(k) * ss(k) * v(k)).sum)
      val hu = Array.tabulate(4)(i =>
        (0 until 4).map(j => h(i * 4 + j) * u(j)).sum)
      val viaMatrix = Array.tabulate(4)(j =>
        if (j < 3) fs(j) * hu(j) - fs(j) * ss(j) * hu(3) else hu(3))
      close(o.hessianVector(w, v), viaMatrix, rel)
    }

    // under squared loss d2z = 1, so the Hessian is the normal equations' A
    val sq = new LocalGlmObjective(data.toArray, 3,
      cfg.copy(loss = SquaredLoss))
    assert(sq.hessianMatrix(w).toSeq == sq.normalEquations()._1.toSeq)

    // one solve-and-variance routine: on one partition the fixed-effect
    // and the per-entity fit take the same iterates
    val varCfg = cfg.copy(varianceComputation = "simple")
    val fixed = Glm.train(spark.createDataset(
      spark.sparkContext.parallelize(data, 1)), 3, varCfg)
    val entity = Glm.trainLocal(data.toArray, 3, varCfg)
    assert(fixed.coef.toSeq == entity.coef.toSeq)
    assert(fixed.intercept == entity.intercept)
    assert(fixed.variances.get.toSeq == entity.variances.get.toSeq)
  }

  test("the distributed objective releases only the cache it persisted") {
    import org.apache.spark.storage.StorageLevel
    val cfg = GlmConfig(SquaredLoss)
    val callerCached = synthetic(200, Array(1.0, -1.0), 0.5, false).toDS()
    callerCached.rdd.persist(StorageLevel.MEMORY_ONLY)
    val shared = new DistributedGlmObjective(callerCached, 2, cfg)
    shared.unpersist()
    assert(callerCached.rdd.getStorageLevel == StorageLevel.MEMORY_ONLY)
    callerCached.rdd.unpersist(false)

    val uncached = synthetic(200, Array(1.0, -1.0), 0.5, false).toDS()
    val own = new DistributedGlmObjective(uncached, 2, cfg)
    assert(uncached.rdd.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
    own.unpersist()
    assert(uncached.rdd.getStorageLevel == StorageLevel.NONE)
  }
}
