package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed evaluation suite (photon-lib/.../evaluation/).
  *
  * Every evaluator consumes (score, label, weight) columns — the caller
  * attaches scores via the left-outer join the reference uses
  * (EvaluationSuite.evaluate:59-68). All metrics are single aggregation
  * passes or window ranks: nothing is collected to the driver, so they
  * hold at any scale.
  *
  * The AUC uses the average-rank Mann–Whitney statistic, which is exactly
  * the tie-aware trapezoidal AUC the reference computes locally
  * (AreaUnderROCCurveLocalEvaluator.scala:33-71).
  */
object Evaluators {

  private def w(weightCol: Option[String]): Column =
    weightCol.map(col).getOrElse(lit(1.0))

  def rmse(df: DataFrame, score: String, label: String,
           weightCol: Option[String] = None): Double = {
    val wc = w(weightCol)
    df.agg(sqrt(sum(wc * pow(col(score) - col(label), 2)) / sum(wc)))
      .first().getDouble(0)
  }

  def squaredLoss(df: DataFrame, score: String, label: String,
                  weightCol: Option[String] = None): Double =
    df.agg(sum(w(weightCol) * pow(col(score) - col(label), 2) * 0.5))
      .first().getDouble(0)

  def mae(df: DataFrame, score: String, label: String,
          weightCol: Option[String] = None): Double = {
    val wc = w(weightCol)
    df.agg(sum(wc * abs(col(score) - col(label))) / sum(wc))
      .first().getDouble(0)
  }

  /** Σ w·log(1+e^{-y'·z}) with y' ∈ {-1,1} — numerically stable form. */
  def logisticLoss(df: DataFrame, score: String, label: String,
                   weightCol: Option[String] = None): Double = {
    val z = col(score)
    val yz = when(col(label) > 0.5, z).otherwise(-z)
    // log1pExp(-yz), stable: max(-yz,0) + log1p(exp(-|yz|))
    val l = greatest(-yz, lit(0.0)) + log1p(exp(-abs(yz)))
    df.agg(sum(w(weightCol) * l)).first().getDouble(0)
  }

  // ------------------------------------------------ distributed rank math
  //
  // Global rank statistics (AUC/AUPR/peak-F1 over the WHOLE dataset) must
  // not funnel every row through one window task. The scalable shape is
  // the one MLlib's BinaryClassificationMetrics uses: aggregate to
  // per-distinct-score confusion counts, range-sort those (tiny vs rows),
  // and turn per-partition totals into prefix offsets — no global
  // single-partition exchange anywhere.

  /** Cumulative confusion curve over distinct scores, DESCENDING: one
    * entry per distinct score s with (s, tpPrev, fpPrev, tp, fp), where
    * tp/fp count rows with score ≥ s and `*Prev` is the previous
    * (higher-score) cut — i.e. consecutive curve points, pre-paired so
    * trapezoid integration is a map. Distributed: reduceByKey on score,
    * range sort, prefix offsets from per-partition totals (the collect is
    * #partitions rows, not data rows). */
  def confusionCurve(df: DataFrame, score: String, label: String)
  : (RDD[(Double, Long, Long, Long, Long)], Long, Long) = {
    val m = curveMetrics(df, score, label)
    // this signature returns no unpersist handle, so release the backing
    // cache now: the returned curve stays correct (it recomputes from the
    // sort shuffle with the same range partitioner, so the prefix offsets
    // baked into it remain valid) and nothing leaks until LRU eviction.
    // Callers wanting the shared-cache multi-metric path use curveMetrics.
    m.unpersist()
    (m.curve, m.p, m.n)
  }

  /** The confusion curve plus every metric derived from it, sharing ONE
    * persisted sorted-counts RDD: auc/aupr/peakF1 each cost a single
    * action over the cached counts instead of re-reading the sort shuffle
    * per metric call. Call [[CurveMetrics.unpersist]] when done. */
  final class CurveMetrics private[Evaluators] (
      val curve: RDD[(Double, Long, Long, Long, Long)],
      val p: Long, val n: Long,
      backing: RDD[(Double, (Long, Long))]) {

    /** Tie-aware AUROC (average-rank Mann–Whitney ≡ ROC trapezoid with
      * tied scores grouped). */
    def auc: Double = {
      if (p == 0 || n == 0) return Double.NaN
      val area = curve.map { case (_, tpPrev, fpPrev, tp, fp) =>
        (fp - fpPrev).toDouble * (tp + tpPrev) / 2.0
      }.sum()
      area / (p.toDouble * n.toDouble)
    }

    /** AUPR with MLlib BinaryClassificationMetrics semantics: trapezoid
      * over (recall, precision) at distinct-score cuts, first point
      * (0, p₁). */
    def aupr: Double = {
      if (p == 0) return Double.NaN
      val pTot = p // local copy: a field reference would drag `this`
      curve.map { case (_, tpPrev, fpPrev, tp, fp) => // (and its RDDs) into the closure
        val prec = tp.toDouble / (tp + fp)
        val precPrev =
          if (tpPrev + fpPrev == 0) prec // MLlib's (0, p₁) first point
          else tpPrev.toDouble / (tpPrev + fpPrev)
        (tp - tpPrev).toDouble / pTot * (prec + precPrev) / 2.0
      }.sum()
    }

    /** Peak F1 over distinct-score cuts (reference Evaluation.scala
      * peak-F1; F1 at cut = 2·tp/(tp+fp+P)). */
    def peakF1: Double = {
      if (p == 0) return Double.NaN
      val pTot = p
      curve.map { case (_, _, _, tp, fp) =>
        2.0 * tp / (tp + fp + pTot)
      }.fold(0.0)(math.max)
    }

    def unpersist(): Unit = backing.unpersist(false)
  }

  /** Build the shared curve: reduceByKey on score, range sort (persisted),
    * prefix offsets from per-partition totals. */
  def curveMetrics(df: DataFrame, score: String, label: String)
  : CurveMetrics = {
    val counts = df.select(col(score).cast("double"),
      when(col(label) > 0.5, true).otherwise(false)).rdd
      .map(r => (r.getDouble(0), (if (r.getBoolean(1)) 1L else 0L,
        if (r.getBoolean(1)) 0L else 1L)))
      .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2))
    // persisted: the offsets collect materializes it, and every metric
    // action re-reads it from cache instead of from the sort shuffle
    val sorted = counts.sortBy(_._1, ascending = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partTotals = sorted.mapPartitions { it =>
      var p = 0L; var n = 0L
      it.foreach { case (_, (dp, dn)) => p += dp; n += dn }
      Iterator.single((p, n))
    }.collect()
    val offsets = partTotals.scanLeft((0L, 0L)) {
      case ((p, n), (dp, dn)) => (p + dp, n + dn)
    }
    val curve = sorted.mapPartitionsWithIndex { (i, it) =>
      var (tp, fp) = offsets(i)
      it.map { case (s, (dp, dn)) =>
        val (tpPrev, fpPrev) = (tp, fp)
        tp += dp; fp += dn
        (s, tpPrev, fpPrev, tp, fp)
      }
    }
    // grand totals are the last prefix offset — free, no extra action
    new CurveMetrics(curve, offsets.last._1, offsets.last._2, sorted)
  }

  /** Tie-aware AUROC — one-shot convenience over [[curveMetrics]]. */
  def auc(df: DataFrame, score: String, label: String): Double = {
    val m = curveMetrics(df, score, label)
    try m.auc finally m.unpersist()
  }

  /** AUPR — one-shot convenience over [[curveMetrics]]. */
  def aupr(df: DataFrame, score: String, label: String): Double = {
    val m = curveMetrics(df, score, label)
    try m.aupr finally m.unpersist()
  }

  /** Peak F1 — one-shot convenience over [[curveMetrics]]. */
  def peakF1(df: DataFrame, score: String, label: String): Double = {
    val m = curveMetrics(df, score, label)
    try m.peakF1 finally m.unpersist()
  }

  /** Bernoulli log-likelihood of probability predictions (E10 legacy
    * metrics): Σ y·ln(p) + (1−y)·ln(1−p), clamped away from 0/1. */
  def logLikelihood(df: DataFrame, prob: String, label: String): Double = {
    val eps = 1e-15
    val pc = least(greatest(col(prob), lit(eps)), lit(1 - eps))
    df.agg(sum(when(col(label) > 0.5, log(pc)).otherwise(log(lit(1.0) - pc))))
      .first().getDouble(0)
  }

  /** Akaike information criterion: 2k − 2·LL. */
  def aic(df: DataFrame, prob: String, label: String, nParams: Int): Double =
    2.0 * nParams - 2.0 * logLikelihood(df, prob, label)

  /** Σ ranks of positives under the TOTAL order (score, tieId) — the
    * deterministic row_number variant (no tie averaging; tieId breaks
    * ties). Distributed rank: range-sorted sort + zipWithIndex (which is
    * per-partition counts + prefix offsets under the hood). */
  def rankSumStats(rows: RDD[(Double, Long, Boolean)]): (Long, Long, Long) =
    rows.sortBy(r => (r._1, r._2))
      .zipWithIndex()
      .map { case ((_, _, pos), idx) =>
        if (pos) (idx + 1, 1L, 0L) else (0L, 0L, 1L)
      }
      .fold((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) =>
        (a + x, b + y, c + z)
      }

  /** Per-group tie-aware AUROC: (groupCol, auc) — the MultiEvaluator
    * building block. Groups with one class → null auc (filtered by mean).
    * Average rank for ties = rank + (tieCount-1)/2, all window math. */
  def groupedAuc(df: DataFrame, group: String, score: String,
                 label: String): DataFrame = {
    val byScore = Window.partitionBy(group).orderBy(col(score))
    val tieW = Window.partitionBy(group, score)
    df.select(col(group), col(score),
      when(col(label) > 0.5, 1L).otherwise(0L).as("__pos"))
      .withColumn("__avgRank",
        rank().over(byScore) + (count(lit(1)).over(tieW) - 1) / 2.0)
      .groupBy(group)
      .agg(sum(when(col("__pos") === 1, col("__avgRank"))).as("__sumR"),
        sum(col("__pos")).as("__p"), count(lit(1)).as("__n"))
      .select(col(group),
        when(col("__p") > 0 && col("__n") > col("__p"),
          (col("__sumR") - col("__p") * (col("__p") + 1) / 2.0) /
            (col("__p") * (col("__n") - col("__p"))))
          .as("auc"))
  }

  /** Precision@k per group then mean (E8). */
  def meanPrecisionAtK(df: DataFrame, group: String, score: String,
                       label: String, k: Int, tieBreak: String): Double = {
    val win = Window.partitionBy(group)
      .orderBy(col(score).desc, col(tieBreak))
    df.withColumn("__rn", row_number().over(win))
      .filter(col("__rn") <= k)
      .groupBy(group)
      .agg((sum(when(col(label) > 0.5, 1.0).otherwise(0.0)) / k)
        .as("__pk"))
      .agg(avg("__pk")).first().getDouble(0)
  }

  /** Best-model selection comparator (EvaluatorType.scala:54-66). */
  def betterThan(metric: String, a: Double, b: Double): Boolean =
    metric.toLowerCase match {
      case "auc" | "aupr" | "precision_at_k" => a > b
      case _ => a < b // losses / rmse: lower is better
    }

  /** Calibration (reliability) bins: scores in [0,1] into `bins`
    * equal-width buckets; per bucket the row count, mean score
    * ("confidence") and positive rate ("accuracy") — the per-bin rows
    * behind a reliability diagram / expected-calibration-error.
    *
    * One hash aggregate over at most `bins` groups — a scan, no
    * shuffle of substance at any scale. Determinism: the bin id is
    * integer floor arithmetic (identical IEEE on any engine; scores
    * exactly 1.0 fold into the top bin), and both means divide exact
    * decimal sums by the bin count, rounded under the repo's
    * ROUND(+1e-9, 6) convention. */
  def calibrationBins(df: DataFrame, score: String, label: String,
                      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"need at least 2 bins, got $bins")
    val bin = least(floor(col(score) * bins), lit(bins - 1)).cast("int")
    df.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        round(sum(graft.util.Exact.dec(col(score), 18, 9)).cast("double") /
          count(lit(1)) + lit(1e-9), 6).as("mean_score"),
        round(sum(when(col(label) > 0.5, 1L).otherwise(0L)).cast("double") /
          count(lit(1)) + lit(1e-9), 6).as("pos_rate"))
  }
}
