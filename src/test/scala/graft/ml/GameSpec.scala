package graft.ml

import graft.SparkSpec
import graft.ml.CoordinateDescent._
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GAME coordinate-descent recovery on synthetic additive data:
  * y = w·x (fixed) + perUserIntercept (random) + noise. The descent must
  * recover both parts; per-entity models must beat a fixed-only fit. */
class GameSpec extends SparkSpec {
  import spark.implicits._

  private val nUsers = 20
  private val userEffect: Map[String, Double] =
    (0 until nUsers).map(u => s"u$u" -> (u - nUsers / 2) * 0.5).toMap
  private val wTrue = Array(2.0, -1.0)

  private def gameData(n: Int, seed: Int = 7) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val u = s"u${rnd.nextInt(nUsers)}"
      val x = Array(rnd.nextGaussian(), rnd.nextGaussian())
      val y = GlmMath.dot(wTrue, Vectors.dense(x)) + userEffect(u) +
        0.05 * rnd.nextGaussian()
      (i.toLong, y, 1.0, 0.0, Vectors.dense(x), Vectors.dense(Array.empty[Double]), u)
    }.toDF("uid", "label", "weight", "offset", "fixedFeatures",
      "emptyFeatures", "userId")
  }

  test("coordinate descent recovers fixed weights and user intercepts") {
    val data = gameData(4000)
    val fixed = FixedSpec("global", "fixedFeatures", 2,
      GlmConfig(SquaredLoss, l2 = 0.0, maxIter = 100, tol = 1e-10))
    val random = RandomSpec("perUser", "userId", "emptyFeatures", 0,
      GlmConfig(SquaredLoss, l2 = 1e-3, maxIter = 50, tol = 1e-10))
    val model = CoordinateDescent.train(data, Seq(fixed, random),
      nIterations = 3)

    val g = model.coordinates("global").asInstanceOf[TrainedFixed].model
    assert(math.abs(g.coef(0) - 2.0) < 0.05, s"w0=${g.coef(0)}")
    assert(math.abs(g.coef(1) + 1.0) < 0.05, s"w1=${g.coef(1)}")

    val userModels = model.coordinates("perUser")
      .asInstanceOf[TrainedRandom].models
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // random-effect intercepts recover the per-user shifts (global
    // intercept absorbs the mean; compare deviations)
    val meanEffect = userEffect.values.sum / nUsers
    userEffect.foreach { case (u, e) =>
      val got = userModels(u) + g.intercept
      assert(math.abs(got - e) < 0.15, s"user $u: got $got want $e")
    }

    // scoring: full GAME score should predict y closely
    val scored = model.score(data).join(data.select("uid", "label"), "uid")
    val rmse = Evaluators.rmse(scored, "score", "label")
    assert(rmse < 0.1, s"rmse=$rmse")
  }

  test("fixed-coordinate down-sampling is unbiased for the binary branch") {
    // logistic loss → binaryClass sampling: every positive kept, negatives
    // hash-sampled at the rate with 1/rate weight compensation, so the
    // sampled weighted loss equals the full loss in expectation and the
    // fit lands near the full-data solution
    val rnd = new scala.util.Random(17)
    val data = (0 until 6000).map { i =>
      val x = Array(rnd.nextGaussian(), rnd.nextGaussian())
      val z = 1.5 * x(0) - 0.8 * x(1)
      val y = if (rnd.nextDouble() < PointwiseLoss.sigmoid(z)) 1.0 else 0.0
      (i.toLong, y, 1.0, 0.0, Vectors.dense(x))
    }.toDF("uid", "label", "weight", "offset", "fixedFeatures")
    def fit(rate: Double) = CoordinateDescent.train(data,
      Seq(FixedSpec("global", "fixedFeatures", 2,
        GlmConfig(LogisticLoss, l2 = 1.0, maxIter = 100, tol = 1e-9),
        downSamplingRate = rate)), nIterations = 1)
      .coordinates("global").asInstanceOf[TrainedFixed].model
    val full = fit(1.0)
    val sampled = fit(0.4)
    full.coef.zip(sampled.coef).foreach { case (a, b) =>
      assert(math.abs(a - b) < 0.15, s"full=$a sampled=$b")
    }
    assert(math.abs(full.intercept - sampled.intercept) < 0.15)
  }

  test("pearson selection keeps the label-correlated feature only") {
    val rnd = new scala.util.Random(21)
    val pts = (0 until 100).map { _ =>
      val x1 = rnd.nextGaussian()            // true signal
      val x2 = rnd.nextGaussian()            // noise
      LabeledPoint(3.0 * x1 + rnd.nextGaussian() * 0.1,
        org.apache.spark.ml.linalg.Vectors.dense(x1, x2))
    }.toArray
    val idx = FeatureSelection.topPearsonIndices(pts, 2, 1)
    assert(idx.toSeq == Seq(0))
    // constant feature never wins
    val const = pts.map(p => p.copy(features =
      org.apache.spark.ml.linalg.Vectors.dense(1.0, p.features(0))))
    assert(FeatureSelection.topPearsonIndices(const, 2, 1).toSeq == Seq(1))
    // scatter puts the projected solution back in place
    assert(FeatureSelection.scatter(Array(7.0), Array(1), 3).toSeq ==
      Seq(0.0, 7.0, 0.0))
  }

  test("subspace projection solves in each entity's active span, exactly") {
    // entity e0 only ever activates features {0,2}, e1 only {1,3}: the
    // projected solve must equal the full-dimension solve (under pure l2
    // the inactive optimum is 0) while never touching inactive slots
    val rnd = new scala.util.Random(51)
    def sparse(active: Seq[Int]) = {
      val idx = active.toArray
      org.apache.spark.ml.linalg.Vectors.sparse(4,
        idx, idx.map(_ => rnd.nextGaussian()))
    }
    val rows = (0 until 400).map { i =>
      val (e, active) = if (i % 2 == 0) ("e0", Seq(0, 2)) else ("e1", Seq(1, 3))
      val v = sparse(active)
      RandomEffect.ReSample(e, 1.5 * v(active.head) - 0.5 * v(active(1)) +
        0.05 * rnd.nextGaussian(), v, 0.0, 1.0)
    }
    val data = spark.createDataset(rows)
    val cfg = GlmConfig(SquaredLoss, l2 = 0.1, maxIter = 100, tol = 1e-12,
      varianceComputation = "simple")
    val proj = RandomEffect.train(data, 4, cfg).collect()
      .map(m => m.reId -> m).toMap
    val full = RandomEffect.train(data, 4, cfg, subspace = false).collect()
      .map(m => m.reId -> m).toMap
    Seq("e0", "e1").foreach { e =>
      proj(e).coef.zip(full(e).coef).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-8, s"$e: proj=$a full=$b")
      }
      assert(math.abs(proj(e).intercept - full(e).intercept) < 1e-8)
    }
    // inactive coefficients are exactly zero (scatter, not solver noise)
    assert(proj("e0").coef(1) == 0.0 && proj("e0").coef(3) == 0.0)
    assert(proj("e1").coef(0) == 0.0 && proj("e1").coef(2) == 0.0)
    // inactive-dim variances are the pure-regularizer value 1/l2
    assert(math.abs(proj("e0").variances.get(1) - 10.0) < 1e-9)
    assert(proj("e0").variances.get(0) > 0 &&
      proj("e0").variances.get(0) < 10.0)
  }

  test("q91 shape: warm-started CD round lands on the identical optimum") {
    // the q91 query runs TWO coordinate-descent rounds over a single
    // featureful random coordinate: round 2 warm-starts each entity from
    // round 1's model, gathered through the entity's active-index
    // subspace. The warm start must not move the optimum (squared loss
    // solves exactly), and each entity's solve must run in a projected
    // dim strictly below the global dim
    val rnd = new scala.util.Random(83)
    val rows = (0 until 300).map { i =>
      val e = s"u${i % 6}"
      val par = (i % 6) % 2
      val x1 = rnd.nextInt(7) - 3.0
      val x2 = rnd.nextInt(11) - 5.0
      val arr = if (par == 0) Array(x1, x2, 0.0, 0.0)
        else Array(0.0, 0.0, x1, x2)
      val y = 0.7 * x1 - 0.3 * x2 + par + 0.05 * rnd.nextGaussian()
      (i.toLong, y, 1.0, 0.0,
        org.apache.spark.ml.linalg.Vectors.dense(arr), e)
    }
    val data = spark.createDataFrame(rows)
      .toDF("uid", "label", "weight", "offset", "xf", "userId")
    val cfg = GlmConfig(SquaredLoss, l2 = 0.1, maxIter = 100, tol = 1e-12)
    def models(nIter: Int) = CoordinateDescent.train(data,
      Seq(RandomSpec("re", "userId", "xf", 4, cfg, activeCap = 0)),
      nIterations = nIter)
      .coordinates("re").asInstanceOf[TrainedRandom].models
      .as[RandomEffect.ReModel].collect().map(m => m.reId -> m).toMap
    val one = models(1)
    val two = models(2)
    one.keys.foreach { e =>
      one(e).coef.zip(two(e).coef).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"$e warm start moved: $a vs $b")
      }
      assert(math.abs(one(e).intercept - two(e).intercept) < 1e-9)
      // scatter proof: the entity's inactive pair is exactly zero
      val par = e.stripPrefix("u").toInt % 2
      val inactive = if (par == 0) Seq(2, 3) else Seq(0, 1)
      inactive.foreach(j => assert(two(e).coef(j) == 0.0))
    }
    // the projection really engages: each entity's active span is 2 of 4
    val sample = rows.filter(_._6 == "u0").map(r =>
      LabeledPoint(r._2, r._5, r._4, r._3)).toArray
    assert(FeatureSelection.activeIndices(sample, 4).length == 2)
  }

  test("subspace solve projects a config-level Gaussian prior, not crash") {
    // cfg.prior lives in FULL coefficient space; the projected local
    // solve must gather it through the entity's active index set
    val rnd = new scala.util.Random(53)
    def sparse(active: Seq[Int]) = {
      val idx = active.toArray
      org.apache.spark.ml.linalg.Vectors.sparse(4,
        idx, idx.map(_ => rnd.nextGaussian()))
    }
    val rows = (0 until 200).map { i =>
      val (e, active) = if (i % 2 == 0) ("e0", Seq(0, 2)) else ("e1", Seq(1, 3))
      val v = sparse(active)
      RandomEffect.ReSample(e, v(active.head) + 0.05 * rnd.nextGaussian(),
        v, 0.0, 1.0)
    }
    val data = spark.createDataset(rows)
    val prior = GaussianPrior(Array(0.5, 0.5, 0.5, 0.5, 0.0),
      Array.fill(5)(1.0))
    val cfg = GlmConfig(SquaredLoss, l2 = 0.1, maxIter = 50,
      prior = Some(prior))
    // both projected paths must complete with finite coefficients
    val sub = RandomEffect.train(data, 4, cfg).collect()
    assert(sub.length == 2 && sub.forall(_.coef.forall(c =>
      !c.isNaN && !c.isInfinity)))
    val pear = RandomEffect.train(data, 4, cfg, pearsonK = 2).collect()
    assert(pear.length == 2 && pear.forall(_.coef.forall(c =>
      !c.isNaN && !c.isInfinity)))
    // the prior pulls active coefficients toward 0.5 relative to a
    // no-prior fit with heavy regularization on tiny data
    val tiny = spark.createDataset(rows.take(4))
    val strong = cfg.copy(l2 = 1e-9, prior = Some(GaussianPrior(
      Array(0.5, 0.5, 0.5, 0.5, 0.0), Array.fill(5)(1e-6))))
    val pulled = RandomEffect.train(tiny, 4, strong).collect()
      .map(m => m.reId -> m).toMap
    assert(math.abs(pulled("e0").coef(0) - 0.5) < 0.05,
      s"prior should dominate: ${pulled("e0").coef.toSeq}")
  }

  test("no-intercept warm starts survive the dimension check") {
    // fitIntercept=false: the prior seed must have length featureDim,
    // or Optimizers silently drops it and re-converges from zero
    val rnd = new scala.util.Random(54)
    val rows = (0 until 100).map { i =>
      val v = org.apache.spark.ml.linalg.Vectors.dense(
        rnd.nextGaussian(), rnd.nextGaussian())
      RandomEffect.ReSample("e0", 2.0 * v(0) - v(1) +
        0.01 * rnd.nextGaussian(), v, 0.0, 1.0)
    }
    val data = spark.createDataset(rows)
    val cfg = GlmConfig(SquaredLoss, l2 = 0.01, fitIntercept = false,
      maxIter = 1, tol = 1e-12)
    val priors = spark.createDataset(Seq(
      RandomEffect.ReModel("e0", Array(2.0, -1.0), 0.0)))
    // with maxIter=1 the fit only lands near the optimum if the warm
    // start was actually used (a zero start cannot converge in 1 step
    // under LBFGS's first-iteration line search alone)
    val m = RandomEffect.train(data, 2, cfg, priors = Some(priors),
      subspace = false).collect().head
    assert(math.abs(m.coef(0) - 2.0) < 0.2 &&
      math.abs(m.coef(1) + 1.0) < 0.2,
      s"warm start was dropped: ${m.coef.toSeq}")
  }

  test("per-entity training with pearsonK zeroes unselected coefficients") {
    val rnd = new scala.util.Random(31)
    val data = (0 until 300).map { i =>
      val x1 = rnd.nextGaussian(); val x2 = rnd.nextGaussian()
      RandomEffect.ReSample(s"e${i % 3}", 2.0 * x1 + rnd.nextGaussian() * 0.1,
        org.apache.spark.ml.linalg.Vectors.dense(x1, x2), 0.0, 1.0)
    }.toDS()
    val models = RandomEffect.train(data, 2,
      GlmConfig(SquaredLoss, l2 = 1e-6, maxIter = 50, tol = 1e-9),
      pearsonK = 1).collect()
    assert(models.length == 3)
    models.foreach { m =>
      assert(math.abs(m.coef(0) - 2.0) < 0.1, s"coef=${m.coef.toSeq}")
      assert(m.coef(1) == 0.0)
    }
  }

  test("partial retrain keeps locked coordinates byte-identical") {
    val data = gameData(400, seed = 8)
    val specs = Seq(
      FixedSpec("global", "fixedFeatures", 2,
        GlmConfig(SquaredLoss, l2 = 1e-6, maxIter = 50, tol = 1e-9)),
      RandomSpec("perUser", "userId", "emptyFeatures", 0,
        GlmConfig(SquaredLoss, l2 = 1e-2, maxIter = 20, tol = 1e-9)))
    val first = CoordinateDescent.train(data, specs, nIterations = 2)
    val relocked = CoordinateDescent.train(gameData(400, seed = 9), specs,
      nIterations = 2, initial = Some(first),
      lockedCoordinates = Set("global"))
    val lockedFixed = relocked.coordinates("global")
      .asInstanceOf[TrainedFixed].model
    val origFixed = first.coordinates("global")
      .asInstanceOf[TrainedFixed].model
    assert(lockedFixed.coef.toSeq == origFixed.coef.toSeq &&
      lockedFixed.intercept == origFixed.intercept)
    // the unlocked coordinate did retrain
    assert(relocked.coordinates("perUser") ne first.coordinates("perUser"))
  }

  private def fixtureSpecs = Seq(
    FixedSpec("global", "fixedFeatures", 2,
      GlmConfig(SquaredLoss, l2 = 1e-6, maxIter = 50, tol = 1e-9)),
    RandomSpec("perUser", "userId", "emptyFeatures", 0,
      GlmConfig(SquaredLoss, l2 = 1e-2, maxIter = 20, tol = 1e-9)))

  test("locked coordinates must be among the trained coordinates") {
    val data = gameData(200, seed = 10)
    val first = CoordinateDescent.train(data, fixtureSpecs, nIterations = 1)
    val e = intercept[IllegalArgumentException] {
      CoordinateDescent.train(data, fixtureSpecs.take(1), nIterations = 1,
        initial = Some(first), lockedCoordinates = Set("perUser"))
    }
    assert(e.getMessage.contains(
      "locked coordinate(s) perUser not among the coordinates global"),
      e.getMessage)
  }

  test("a locked model frame that is not a checkpoint is copied once") {
    val data = gameData(300, seed = 15)
    val first = CoordinateDescent.train(data, fixtureSpecs, nIterations = 1)
    val perUser = first.coordinates("perUser").asInstanceOf[TrainedRandom]
    // the same models as a local relation instead of a checkpoint
    val local = spark.createDataFrame(
      java.util.Arrays.asList(perUser.models.collect(): _*),
      perUser.models.schema)
    def relock(models: org.apache.spark.sql.DataFrame) =
      CoordinateDescent.train(data, fixtureSpecs, nIterations = 2,
        initial = Some(GameModel(first.coordinates +
          ("perUser" -> perUser.copy(models = models)))),
        lockedCoordinates = Set("perUser"))
    def fixed(m: GameModel) =
      m.coordinates("global").asInstanceOf[TrainedFixed].model.coef.toSeq
    val viaCheckpoint = relock(perUser.models)
    // ids, not a count: the persistent-RDD map holds its RDDs weakly, so
    // a GC during the call can drop an unrelated earlier entry
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val viaLocal = relock(local)
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- persisted
    assert(leftover.isEmpty,
      s"the checkpointed copy of the locked models was not released: " +
        s"RDDs $leftover persisted by the call remain")
    assert(viaLocal.coordinates("perUser").asInstanceOf[TrainedRandom]
      .models eq local)
    assert(fixed(viaLocal) == fixed(viaCheckpoint))
  }

  test("reserved score columns in the input fail fast") {
    val data = gameData(200, seed = 11)
    val e = intercept[IllegalArgumentException] {
      CoordinateDescent.train(data.withColumn("_score_global", lit(0.0)),
        fixtureSpecs, nIterations = 1)
    }
    assert(e.getMessage.contains("_score_global") &&
      e.getMessage.contains("reserved prefix _score_"), e.getMessage)
    val model = CoordinateDescent.train(data, fixtureSpecs, nIterations = 1)
    val e2 = intercept[IllegalArgumentException] {
      model.score(data.withColumn("_gms_0", lit(1.0)))
    }
    assert(e2.getMessage.contains("_gms_0") &&
      e2.getMessage.contains("reserved prefix _gms_"), e2.getMessage)
  }

  test("train keeps a caller's cache and leaves no cache of its own") {
    val cachedInput = gameData(400, seed = 12).cache()
    cachedInput.count()
    CoordinateDescent.train(cachedInput, fixtureSpecs, nIterations = 2)
    assert(cachedInput.storageLevel != StorageLevel.NONE,
      "train() dropped the caller's cache")
    cachedInput.unpersist(true)

    val uncached = gameData(400, seed = 12)
    CoordinateDescent.train(uncached, fixtureSpecs, nIterations = 2)
    assert(uncached.storageLevel == StorageLevel.NONE,
      "train() left its input cached")
  }

  test("an extra input column with a dotted name passes through train") {
    val data = gameData(300, seed = 14)
    def fixed(m: GameModel) =
      m.coordinates("global").asInstanceOf[TrainedFixed].model.coef.toSeq
    val plain = CoordinateDescent.train(data, fixtureSpecs, nIterations = 2)
    val dotted = CoordinateDescent.train(data.withColumn("a.b", lit(1)),
      fixtureSpecs, nIterations = 2)
    assert(fixed(dotted) == fixed(plain))
  }

  test("broadcast and shuffle-joined random scores train the same model") {
    // default threshold: the per-user models are attached to each
    // residual by a broadcast join; threshold -1: by a shuffle join
    val data = gameData(2000, seed = 13)
    def fit() = {
      val m = CoordinateDescent.train(data, fixtureSpecs, nIterations = 3)
      val g = m.coordinates("global").asInstanceOf[TrainedFixed].model
      val users = m.coordinates("perUser").asInstanceOf[TrainedRandom]
        .models.as[RandomEffect.ReModel].collect()
        .map(r => r.reId -> r.intercept).toMap
      val scores = m.score(data).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      (g.coef.toSeq :+ g.intercept, users, scores)
    }
    val broadcastFit = fit()
    val shuffleFit = graft.util.ExecProfile.withConfs(spark,
      Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"))(fit())
    // relative, floored at 1: a score that nets out near 0 from O(1)
    // terms keeps the terms' absolute rounding (summation order differs
    // with the partitioning of the shuffle-joined residual)
    def close(a: Double, b: Double, what: String): Unit =
      assert(math.abs(a - b) <=
        1e-12 * math.max(1.0, math.max(math.abs(a), math.abs(b))),
        s"$what: broadcast=$a shuffle=$b")
    broadcastFit._1.zip(shuffleFit._1).foreach { case (a, b) =>
      close(a, b, "fixed") }
    assert(broadcastFit._2.keySet == shuffleFit._2.keySet)
    broadcastFit._2.foreach { case (u, a) => close(a, shuffleFit._2(u), u) }
    assert(broadcastFit._3.keySet == shuffleFit._3.keySet)
    broadcastFit._3.foreach { case (uid, a) =>
      close(a, shuffleFit._3(uid), s"$uid") }
  }

  test("active cap and lower bound flow through coordinate descent") {
    val data = gameData(2000)
    val specs = Seq(
      FixedSpec("global", "fixedFeatures", 2,
        GlmConfig(SquaredLoss, l2 = 1e-6, maxIter = 50, tol = 1e-9)),
      RandomSpec("perUser", "userId", "emptyFeatures", 0,
        GlmConfig(SquaredLoss, l2 = 1e-2, maxIter = 20, tol = 1e-9),
        activeCap = 20, activeLowerBound = 30))
    val model = CoordinateDescent.train(data, specs, nIterations = 2)
    val re = model.coordinates("perUser").asInstanceOf[TrainedRandom].models
    // ~100 rows/user: every user clears the lower bound, cap rescales
    // weights — per-user intercepts must still recover the true effects
    val got = re.collect().map(r =>
      r.getString(0) -> r.getDouble(2)).toMap
    // the global intercept absorbs a constant, so compare DE-MEANED
    // effects (the identifiable quantity)
    val gotMean = got.values.sum / got.size
    val trueMean = userEffect.values.sum / userEffect.size
    val errs = userEffect.map { case (u, e) =>
      math.abs((got.getOrElse(u, 0.0) - gotMean) - (e - trueMean)) }
    assert(errs.max < 0.15, s"max err ${errs.max}")
    // a prohibitive lower bound excludes every entity from training
    val none = CoordinateDescent.train(data, Seq(specs.head,
      specs(1).asInstanceOf[RandomSpec].copy(activeLowerBound = 10000)),
      nIterations = 1)
    assert(none.coordinates("perUser").asInstanceOf[TrainedRandom]
      .models.count() == 0)
  }

  test("per-entity variances persist and priors regularize, not just warm-start") {
    val rnd = new scala.util.Random(41)
    def batch(n: Int, effect: Double) = (0 until n).map { _ =>
      RandomEffect.ReSample("e1", effect + rnd.nextGaussian() * 0.1,
        Vectors.dense(Array.empty[Double]), 0.0, 1.0)
    }.toDS()
    val cfg = GlmConfig(SquaredLoss, l2 = 1e-6, maxIter = 50, tol = 1e-10,
      varianceComputation = "simple")
    // big first batch at effect 2.0 → tight intercept variance ~ 1/n
    val first = RandomEffect.train(batch(1000, 2.0), 0, cfg)
    val m1 = first.collect().head
    assert(m1.variances.isDefined)
    assert(math.abs(m1.variances.get(0) - 1e-3) < 1e-4)
    // tiny second batch at a different effect: with the prior the
    // estimate barely moves; a cold fit lands on the new batch's mean
    val second = RandomEffect.train(batch(5, 0.0), 0, cfg,
      priors = Some(first)).collect().head
    val cold = RandomEffect.train(batch(5, 0.0), 0, cfg).collect().head
    assert(math.abs(second.intercept - 2.0) < 0.2,
      s"incremental=${second.intercept}")
    assert(math.abs(cold.intercept) < 0.5, s"cold=${cold.intercept}")
  }

  test("intercept closed form equals the iterative path, weights and all") {
    // featureDim=0 + squared loss takes the SQL closed form; an empty
    // normalization (no feature to scale, so the same math) fails both
    // closed forms' identity check and forces the general groupByKey path
    // onto LBFGS, so the two paths must agree to solver precision —
    // weighted, offset, variance and prior-with-variance cases included
    val rnd = new scala.util.Random(61)
    val data = (0 until 600).map { i =>
      RandomEffect.ReSample(s"e${i % 7}", rnd.nextGaussian() * 2 + i % 3,
        Vectors.dense(Array.empty[Double]), 0.3 * rnd.nextGaussian(),
        0.5 + rnd.nextDouble())
    }.toDS()
    val cfg = GlmConfig(SquaredLoss, l2 = 1e-3, maxIter = 200, tol = 1e-12,
      varianceComputation = "simple")
    val forceGeneral = cfg.copy(norm =
      Normalization(Some(Array.empty[Double]), None))
    def toMap(ds: org.apache.spark.sql.Dataset[RandomEffect.ReModel]) =
      ds.collect().map(m => m.reId -> m).toMap
    val fast = toMap(RandomEffect.train(data, 0, cfg))
    val slow = toMap(RandomEffect.train(data, 0, forceGeneral))
    assert(fast.keySet == slow.keySet)
    fast.foreach { case (e, m) =>
      assert(math.abs(m.intercept - slow(e).intercept) < 1e-6,
        s"$e: closed=${m.intercept} iterative=${slow(e).intercept}")
      assert(math.abs(m.variances.get(0) - slow(e).variances.get(0)) < 1e-6)
    }
    // incremental chain: prior WITH variances regularizes identically
    val fast2 = toMap(RandomEffect.train(data, 0, cfg,
      priors = Some(spark.createDataset(fast.values.toSeq))))
    val slow2 = toMap(RandomEffect.train(data, 0, forceGeneral,
      priors = Some(spark.createDataset(slow.values.toSeq))))
    fast2.foreach { case (e, m) =>
      assert(math.abs(m.intercept - slow2(e).intercept) < 1e-6,
        s"$e prior: closed=${m.intercept} iterative=${slow2(e).intercept}")
    }
  }

  test("bounds on a random-effect coordinate fail fast") {
    val data = Seq(RandomEffect.ReSample("e", 1.0, Vectors.dense(1.0), 0.0,
      1.0)).toDS()
    val e = intercept[IllegalArgumentException] {
      RandomEffect.train(data, 1, GlmConfig(SquaredLoss,
        bounds = Some((Array(-1.0, -1.0), Array(1.0, 1.0)))))
    }
    assert(e.getMessage.contains("random-effect coordinate config") &&
      e.getMessage.contains("GlmConfig.bounds"), e.getMessage)
  }

  test("random-effect priors survive for entities with no new data") {
    val prior = spark.createDataset(Seq(
      RandomEffect.ReModel("ghost", Array(1.0), 0.5),
      RandomEffect.ReModel("live", Array(0.0), 0.0)))
    val data = spark.createDataset(Seq(
      RandomEffect.ReSample("live", 2.0, Vectors.dense(1.0), 0.0, 1.0),
      RandomEffect.ReSample("live", 4.0, Vectors.dense(2.0), 0.0, 1.0)))
    val out = RandomEffect.train(data, 1,
      GlmConfig(SquaredLoss, maxIter = 50, tol = 1e-10),
      priors = Some(prior)).collect().map(m => m.reId -> m).toMap
    assert(out("ghost").coef(0) == 1.0 && out("ghost").intercept == 0.5)
    assert(math.abs(out("live").coef(0) - 2.0) < 1e-4)
  }
}
