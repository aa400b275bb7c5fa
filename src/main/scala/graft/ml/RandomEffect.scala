package graft.ml

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Per-entity ("random effect") model training and scoring.
  *
  * The reference builds an elaborate manual pipeline for this
  * (RandomEffectDataset: custom bin-packing partitioner, groupByKey,
  * reservoir cap, active/passive split, per-partition solver maps —
  * photon-api/.../data/RandomEffectDataset.scala:54-63,437-527). The
  * Spark-first translation is one `groupByKey(reId).mapGroups` — a single
  * shuffle keyed by entity, per-entity solves running inside executors,
  * with AQE handling skew. Entity sample caps (the 2 GB/partition
  * constraint, RandomEffectDataset.scala:38-45) are applied upstream via
  * [[graft.operators.GroupedSampling.boundedSample]].
  */
object RandomEffect {

  case class ReSample(reId: String, label: Double, features: Vector,
                      offset: Double, weight: Double)
  case class ReModel(reId: String, coef: Array[Double], intercept: Double,
                     variances: Option[Array[Double]] = None)

  /** Train one GLM per entity. `priors` (reId → model) gives warm-start /
    * fall-through semantics: entities with a prior but no data keep the
    * prior (the reference's full-outer join, RandomEffectCoordinate.scala:
    * 248-271). `pearsonK` > 0 applies per-entity Pearson feature
    * selection (P5) before the local solve — the solution scatters back
    * to full dimension, so scoring is unchanged.
    *
    * `subspace` (P4/A8, reference LinearSubspaceProjector.scala:36-87 +
    * RandomEffectDataset.scala:390-426,538-550): each entity's solve runs
    * in the span of ITS OWN active feature indices — a per-group index
    * union (local, zero shuffle) plus forward/backward remap. Under pure
    * l2 the restriction is exact (inactive coefficients have zero data
    * gradient, so their optimum is 0, exactly what scatter writes back),
    * while the local solver touches dim = |active| instead of the global
    * featureDim — at a 10⁶-feature vocabulary with ~10²-feature entities
    * that is the difference between a dense million-slot solve per entity
    * and a hundred-slot one. Skipped when a prior regularizes toward
    * nonzero means on inactive dims (the restriction would drop them). */
  def train(data: Dataset[ReSample], featureDim: Int, cfg: GlmConfig,
            priors: Option[Dataset[ReModel]] = None,
            pearsonK: Int = 0, subspace: Boolean = true): Dataset[ReModel] = {
    implicit val enc = Encoders.product[ReModel]
    // per-entity solves run in projected coordinates (subspace, Pearson
    // selection) that a full-space box would not follow
    require(cfg.bounds.isEmpty, "RandomEffect.train: a random-effect " +
      "coordinate config cannot set GlmConfig.bounds; box constraints " +
      "apply to fixed-effect coordinates only")
    if (closedFormInterceptEligible(featureDim, cfg, pearsonK))
      return trainInterceptClosedForm(data, cfg, priors)
    val grouped = data.groupByKey(_.reId)(Encoders.STRING)

    // a GlmConfig-level Gaussian prior lives in FULL coefficient space;
    // any projected solve must gather its arrays through the same index
    // set or QuadReg's dimension check aborts the whole Spark stage
    def projectCfgPrior(idx: Array[Int]): GlmConfig = cfg.prior match {
      case Some(gp) =>
        def gatherP(a: Array[Double]): Array[Double] = {
          val out = new Array[Double](cfg.coefDim(idx.length))
          var i = 0
          while (i < idx.length) { out(i) = a(idx(i)); i += 1 }
          if (cfg.fitIntercept) out(idx.length) = a(featureDim)
          out
        }
        cfg.copy(prior = Some(gp.copy(means = gatherP(gp.means),
          variances = gatherP(gp.variances))))
      case None => cfg
    }

    def solve(samples: Array[LabeledPoint],
              prior: Option[ReModel]): GlmModel =
      if (pearsonK > 0 && pearsonK < featureDim) {
        // selection changes the coefficient space per entity, so
        // PER-ENTITY priors (full-space means) are not applied here;
        // the config-level prior projects through the index set
        val idx = FeatureSelection.topPearsonIndices(samples, featureDim,
          pearsonK)
        val projected = samples.map(p => p.copy(features =
          FeatureSelection.project(p.features, idx)))
        val m = Glm.trainLocal(projected, idx.length, projectCfgPrior(idx))
        m.copy(coef = FeatureSelection.scatter(m.coef, idx, featureDim))
      } else {
        val hasPriorReg = prior.exists(_.variances.isDefined)
        val sub =
          if (subspace && featureDim > 1 && !hasPriorReg)
            Some(FeatureSelection.activeIndices(samples, featureDim))
              .filter(_.length < featureDim)
          else None
        sub match {
          case Some(idx) =>
            val projected = samples.map(p => p.copy(features =
              FeatureSelection.project(p.features, idx)))
            // the warm seed must match the REDUCED dim exactly or the
            // optimizer silently discards it (init.filter(_.length == dim))
            val warm = prior.map { p =>
              val g = FeatureSelection.gather(p.coef, idx)
              if (cfg.fitIntercept) g :+ p.intercept else g
            }
            val m = Glm.trainLocal(projected, idx.length,
              projectCfgPrior(idx), warm)
            val variances = m.variances.map { v =>
              // inactive dims saw only the regularizer: H_jj = l2
              val fill = if (cfg.l2 > 1e-12) 1.0 / cfg.l2 else 1e12
              val out = Array.fill(cfg.coefDim(featureDim))(fill)
              var i = 0
              while (i < idx.length) { out(idx(i)) = v(i); i += 1 }
              if (cfg.fitIntercept) out(featureDim) = v(idx.length)
              out
            }
            m.copy(coef = FeatureSelection.scatter(m.coef, idx, featureDim),
              variances = variances)
          case None =>
            val warm = prior.map(p =>
              if (cfg.fitIntercept) p.coef :+ p.intercept else p.coef)
            // a prior WITH variances regularizes toward the previous
            // model (per-entity incremental training); without, it only
            // warm-starts
            val priorCfg = prior.flatMap(p => p.variances.map(v =>
              cfg.copy(prior = Some(GaussianPrior(
                if (cfg.fitIntercept) p.coef :+ p.intercept else p.coef,
                java.util.Arrays.copyOf(v, cfg.coefDim(featureDim)))))))
              .getOrElse(cfg)
            Glm.trainLocal(samples, featureDim, priorCfg, warm)
        }
      }

    priors match {
      case None =>
        grouped.mapGroups { (id, it) =>
          val samples = it.map(r =>
            LabeledPoint(r.label, r.features, r.offset, r.weight)).toArray
          val m = solve(samples, None)
          ReModel(id, m.coef, m.intercept, m.variances)
        }
      case Some(pm) =>
        val groupedPriors = pm.groupByKey(_.reId)(Encoders.STRING)
        grouped.cogroup(groupedPriors) { (id, dataIt, priorIt) =>
          val prior = priorIt.toSeq.headOption
          val samples = dataIt.map(r =>
            LabeledPoint(r.label, r.features, r.offset, r.weight)).toArray
          if (samples.isEmpty) prior.iterator
          else {
            val m = solve(samples, prior)
            Iterator(ReModel(id, m.coef, m.intercept, m.variances))
          }
        }
    }
  }

  /** The intercept-only squared-loss family (per-entity means — GAME's
    * most common random-effect shape) solves in closed form PER GROUP,
    * which lets training collapse to a plain SQL aggregate instead of
    * the groupByKey+mapGroups general path. The win is structural, not
    * cosmetic: a hash aggregate partially combines map-side, so the
    * shuffle carries one (Σw·(y−off), Σw) row per entity per task
    * instead of every sample (with its vector payload) — at 100 TB the
    * difference between shuffling bytes ∝ data and ∝ entities — and the
    * whole plan stays inside whole-stage codegen (no typed encoders). */
  private def closedFormInterceptEligible(featureDim: Int, cfg: GlmConfig,
                                          pearsonK: Int): Boolean =
    featureDim == 0 && cfg.fitIntercept && cfg.loss == SquaredLoss &&
      cfg.l1 == 0 && cfg.norm.isIdentity &&
      cfg.prior.isEmpty && pearsonK == 0

  /** SQL twin of the general path for the intercept-only closed form.
    * Mirrors `Glm.trainLocal`'s normal-equations solve slot by slot:
    *   no prior / prior without variances → β = Σw(y−off) / Σw
    *     (the exact solve ignores warm starts — they only seed iterative
    *     solvers, and the l2 weight never touches the intercept slot);
    *   prior WITH variances (incremental training) → Gaussian-prior
    *     ridge β = (Σw(y−off) + μ/σ²) / (Σw + 1/σ²), σ²≤0 → l2 fallback
    *     (QuadReg.from);
    *   entity present only in the priors → prior model passes through
    *     (the reference's full-outer semantics);
    *   varianceComputation simple/full → 1/(Σw + regDiag), floored like
    *     trainLocal (h ≤ 1e-12 → 1e12). */
  private def trainInterceptClosedForm(data: Dataset[ReSample],
                                       cfg: GlmConfig,
                                       priors: Option[Dataset[ReModel]])
  : Dataset[ReModel] = {
    implicit val enc = Encoders.product[ReModel]
    val agg = data.toDF().groupBy("reId").agg(
      sum(col("weight") * (col("label") - col("offset"))).as("_b"),
      sum(col("weight")).as("_a"))
    val wantVar = cfg.varianceComputation.toLowerCase match {
      case "simple" | "full" => true
      case _ => false
    }
    val emptyCoef = array().cast("array<double>")
    val noVar = lit(null).cast("array<double>")
    priors match {
      case None =>
        val beta = when(col("_a") > 0, col("_b") / col("_a"))
          .otherwise(lit(0.0))
        val vOut =
          if (wantVar) when(col("_a") > 1e-12,
            array(lit(1.0) / col("_a"))).otherwise(array(lit(1e12)))
          else noVar
        agg.select(col("reId"), emptyCoef.as("coef"),
          beta.as("intercept"), vOut.as("variances")).as[ReModel]
      case Some(pm) =>
        val p = pm.toDF().select(col("reId"), col("coef").as("_pc"),
          col("intercept").as("_pi"), col("variances").as("_pv"))
        val j = agg.join(p, Seq("reId"), "full_outer")
        val hasData = col("_a").isNotNull
        // prior precision on the intercept slot (1-slot arrays at dim 0)
        val aP = when(col("_pi").isNotNull && col("_pv").isNotNull,
          when(element_at(col("_pv"), 1) > 0,
            lit(1.0) / element_at(col("_pv"), 1)).otherwise(lit(cfg.l2)))
          .otherwise(lit(0.0))
        val h = col("_a") + aP
        val beta = when(h > 0,
          (col("_b") + aP * coalesce(col("_pi"), lit(0.0))) / h)
          .otherwise(coalesce(col("_pi"), lit(0.0)))
        val vArr = when(h > 1e-12, array(lit(1.0) / h))
          .otherwise(array(lit(1e12)))
        j.select(col("reId"),
          when(hasData, emptyCoef).otherwise(col("_pc")).as("coef"),
          when(hasData, beta).otherwise(col("_pi")).as("intercept"),
          (if (wantVar) when(hasData, vArr).otherwise(col("_pv"))
           else when(hasData, noVar).otherwise(col("_pv")))
            .as("variances")).as[ReModel]
    }
  }

  /** Score data against per-entity models: an equi-join on reId (the
    * reference's hand-rolled replicated partitioned hash join,
    * RandomEffectModel.scala:259-298 — in Spark this is literally
    * `join(models, "reId")`, and Catalyst picks broadcast vs shuffled
    * hash vs sort-merge). Rows whose entity has no model score 0
    * (reference behavior: unseen entity → zero model). */
  def score(df: DataFrame, models: Dataset[ReModel], reIdCol: String,
            featuresCol: String, scoreCol: String = "score"): DataFrame = {
    val m = models.select(col("reId").as("__reId"), col("coef").as("__coef"),
      col("intercept").as("__intercept"))
    val marginUdf = udf { (v: Vector, coef: Seq[Double], b: Double) =>
      if (coef == null) 0.0 else GlmMath.dot(coef.toArray, v) + b
    }
    df.join(m, df(reIdCol) === m("__reId"), "left_outer")
      .withColumn(scoreCol,
        when(col("__coef").isNull, lit(0.0))
          .otherwise(marginUdf(col(featuresCol), col("__coef"),
            col("__intercept"))))
      .drop("__reId", "__coef", "__intercept")
  }
}
