package graft.operators

import graft.functions.AggFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded per-group sampling and top-K.
  *
  * The reference caps each random-effect entity's "active" sample count with
  * a deterministic reservoir (`RandomEffectDataset.groupDataByKeyAndSample`,
  * photon-api/.../data/RandomEffectDataset.scala:468-527: combineByKey into a
  * fixed-capacity min-heap keyed by a deterministic hash; survivors'
  * weights rescaled by count/capacity so aggregates stay unbiased).
  */
object GroupedSampling {

  /** Deterministic per-row priority: md5 of the row's unique id rendered as
    * hex. Stable across runs, partitionings, and engines (md5 is md5
    * everywhere), which is what makes recomputation-stable sampling possible
    * — same idea as the reference's byteswap64(hash) key. */
  def priority(uidCols: Seq[Column]): Column =
    md5(concat_ws("_", uidCols.map(_.cast("string")): _*))

  /** Once-per-JVM marker so a trimming cap logs visibly without spamming
    * (executor-side; reset only on JVM restart — a warning, not a metric). */
  private val trimWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Test hooks (local-mode only: the flag lives in the executor JVM,
    * which in local mode is the driver JVM). The GAME training path
    * passes `warnOnTrim = true` so production cap-trimming is visible —
    * SamplingSpec asserts the warning actually fires on an over-cap
    * fixture. */
  private[graft] def trimWarningFired: Boolean = trimWarned.get
  private[graft] def resetTrimWarning(): Unit = trimWarned.set(false)

  /** Keep at most `cap` rows per group, chosen by deterministic hash
    * priority; add `weight_scale` = n/cap for survivors of capped groups so
    * weighted aggregates remain unbiased (photon's weight rescaling).
    *
    * Scale shape — two regimes, split on the cap (see the inline
    * comment at the threshold computation):
    *   cap ≤ 4096 (sampling regime): two passes, no window stage.
    *   1. Per-group threshold: bounded-heap aggregate of the `cap`
    *      smallest ADMISSION KEYS ([[AggFunctions.collectTopK]] —
    *      map-side partial buffers are ≤cap heaps, the reference's
    *      fixed-capacity-heap reservoir) plus the group count. Output is
    *      one tiny row per group.
    *   2. Equi-join thresholds back (Catalyst broadcasts when the group
    *      table is small; AQE handles skew otherwise) and keep rows whose
    *      key ≤ the cap-th smallest. A hot group's rows never funnel
    *      through a single-task window sort — an early row_number
    *      implementation did exactly that and died at 100×.
    *   cap > 4096 (safety-bound regime): collect_top_k's cap-sized
    *      buffer preallocation would OOM (it requests cap slots per
    *      group regardless of data), so groups ACTUALLY over the cap are
    *      window-ranked instead. A group far above a large cap does
    *      funnel through one sort task here — bounded to the over-cap
    *      groups only, which under a safety bound are empty or few; a
    *      workload that routinely overflows a >4096 cap should lower
    *      the cap into the sampling regime.
    *
    * The admission key makes the threshold filter EXACT without any
    * trim stage: it is the md5 uid priority extended by a full-row
    * xxhash64, a deterministic total order over distinct rows — so even
    * duplicate uids (which share a priority and would over-admit at the
    * boundary under a priority-only threshold) order deterministically
    * by content and exactly `cap` rows pass. The one remaining tie —
    * bitwise-identical rows straddling the boundary — can admit the
    * extra copies; any exact choice among identical rows is
    * value-indistinguishable anyway, and no deterministic engine can
    * split them.
    *
    * By default the content hash reads every column of `df`; when scan
    * width matters, pass `distinguishCols` — the subset of payload
    * columns that can actually differ between duplicate-uid rows — and
    * the hash covers only uid + that subset, so column pruning reaches
    * the scan (r6 measured q18 at 2.6× its former cost purely from the
    * full-width hash). The caller owns the claim that the subset
    * distinguishes dup-uid rows; if two distinct rows collide on it,
    * the boundary can over-admit exactly as bitwise-identical rows can.
    * Pass a pre-projected frame when uids are unique (the hash is then
    * redundant but harmless). */
  def boundedSample(df: DataFrame, groupCols: Seq[String],
                    uidCols: Seq[String], cap: Int,
                    warnOnTrim: Boolean = false,
                    keepGroupSize: Boolean = false,
                    broadcastThresholds: Boolean = false,
                    distinguishCols: Seq[String] = Nil): DataFrame = {
    // fixed-width (32+16 hex) so string order == (priority, rowhash)
    // lexicographic order; the row hash disambiguates duplicate uids
    // deterministically from content (stable across runs/partitionings,
    // unlike a row_number among ties)
    // (every payload name is backtick-quoted: unquoted, a column named
    // `a.b` would be parsed as field b of a column a)
    val hashCols =
      if (distinguishCols.nonEmpty)
        (uidCols ++ distinguishCols).distinct.map(col)
      else df.columns.toSeq.map(c => col("`" + c.replace("`", "``") + "`"))
    val key = concat(priority(uidCols.map(col)),
      lpad(hex(xxhash64(hashCols: _*)), 16, "0"))
    // Two regimes for the per-group cap-th-key threshold:
    //   cap ≤ 4096 — one bounded-heap aggregate (the fast path: one
    //     shuffle, map-side combine, ~32 KB per group buffer at worst).
    //   cap > 4096 — the SAFETY-bound regime (GAME's active-set default
    //     is 10⁶): Spark's collect_top_k PREALLOCATES a cap-sized queue
    //     per group buffer, so a 15k-entity coordinate would request
    //     terabytes of empty heap (observed driver OOM at the sf1 e2e
    //     gate). Instead count group sizes (codegen hash agg, bytes per
    //     group) and window-rank ONLY the rows of groups actually over
    //     the cap — in the safety-bound regime that set is empty or
    //     tiny, so the sort prices only data that genuinely needs
    //     trimming. The cap-th key value is identical in both
    //     formulations (ties included), so results are hash-equal.
    val thresholds =
      if (cap <= 4096)
        df.groupBy(groupCols.map(col): _*)
          .agg(count(lit(1)).as("_n"),
            array_max(AggFunctions.collectTopK(key, cap, smallest = true))
              .as("_kmax"))
      else {
        val keyed = df.withColumn("_key", key)
        val sizes = keyed.groupBy(groupCols.map(col): _*)
          .agg(count(lit(1)).as("_n"))
        val w = Window.partitionBy(groupCols.map(col): _*)
          .orderBy(col("_key"))
        val thr = keyed
          .join(sizes.filter(col("_n") > cap)
            .select(groupCols.map(col): _*), groupCols, "left_semi")
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === cap)
          .select(groupCols.map(col) :+ col("_key").as("_kmax"): _*)
        sizes.join(thr, groupCols, "left_outer")
      }
    // warnOnTrim: callers applying a DEFAULT cap (not one the user asked
    // for) pass true so silent truncation becomes a visible log line; the
    // UDF computes the identical value as the plain `when` expression
    val scale: Column =
      if (!warnOnTrim)
        when(col("_n") > cap, col("_n").cast("double") / cap)
          .otherwise(lit(1.0))
      else udf { (n: Long) =>
        if (n > cap) {
          if (trimWarned.compareAndSet(false, true))
            org.slf4j.LoggerFactory.getLogger(GroupedSampling.getClass).warn(
              s"boundedSample: a group exceeded cap=$cap; its training " +
                "rows were reservoir-trimmed and weights rescaled")
          n.toDouble / cap
        } else 1.0
      }.apply(col("_n"))
    // broadcastThresholds: the threshold table is one tiny row per
    // GROUP; when the caller knows group cardinality is broadcast-sized
    // (orders, users — not the row domain), hinting it turns the join
    // back into a map-side hash probe and the big side is never
    // shuffled at all (measured 2× on q18: the data-sized shuffle was
    // the whole cost). Callers with data-sized group domains keep the
    // default and let AQE plan the shuffle join.
    val th = if (broadcastThresholds) broadcast(thresholds) else thresholds
    val kept = df.withColumn("_key", key)
      .join(th, groupCols)
      // large-cap path: a NULL _kmax marks an under-cap group — keep all
      .filter(col("_kmax").isNull || col("_key") <= col("_kmax"))
      .withColumn("weight_scale", scale)
    // the pre-cap group count is already aggregated here — callers that
    // need it (e.g. a lower-bound filter) take it for free instead of
    // re-aggregating the source
    val withSize = if (keepGroupSize)
      kept.withColumn("group_size", col("_n")) else kept
    withSize.drop("_key", "_kmax", "_n")
  }

  /** Weighted reservoir sample: at most `cap` rows per group with
    * inclusion probability proportional to `weightCol` (Efraimidis &
    * Spirakis 2006: keep the `cap` LARGEST `u^(1/w)` keys, u uniform per
    * row). Randomness is the row's hash — deterministic across runs,
    * partitionings, and engines — and the selection uses the same
    * bounded-heap threshold pattern as [[boundedSample]], so a hot
    * group never funnels through one task. Weights must be > 0.
    *
    * The rank key is rounded to 12 decimals: JVM Math.pow and other
    * engines' libm pow can disagree in the last ulps, and a raw-double
    * sort key would let near-ties rank differently across engines (the
    * repo convention — TextRanking — is to never sort on raw float
    * keys). Ties the rounding introduces are broken by the md5 row
    * priority, which is engine-exact. */
  def weightedSample(df: DataFrame, groupCols: Seq[String],
                     uidCols: Seq[String], weightCol: String,
                     cap: Int): DataFrame = {
    val u = DownSampling.hashFraction(uidCols.map(col))
    val key = round(pow(u, lit(1.0) / col(weightCol)), 12)
    // cap+1 largest keys per group, ascending: the threshold is the
    // cap-th largest (index size-cap+1), and a duplicated boundary —
    // which the 12dp rounding makes genuinely possible — shows up as
    // the two smallest heap entries being equal. Only then does the
    // row_number tie-break window run, and only over affected groups
    // (the boundedSample pattern).
    val thresholds = df
      .withColumn("_k", key)
      .groupBy(groupCols.map(col): _*)
      .agg(array_sort(AggFunctions.collectTopK(col("_k"), cap + 1,
        smallest = false)).as("_h"))
      .select(groupCols.map(col) ++ Seq(
        element_at(col("_h"),
          greatest(lit(1), size(col("_h")) - cap + 1)).as("_kmin"),
        when(size(col("_h")) === cap + 1,
          element_at(col("_h"), 1) === element_at(col("_h"), 2))
          .otherwise(lit(false)).as("_dupb")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val needsTrim = !thresholds.filter(col("_dupb")).isEmpty
    // same explicit broadcast decision as boundedSample (cached stats
    // would otherwise push Catalyst to a sort-merge probe)
    val thr = if (thresholds.count() <= 1000000) broadcast(thresholds)
              else thresholds
    val trimW = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("_k").desc, priority(uidCols.map(col)))
    val admitted = df.withColumn("_k", key)
      .join(thr, groupCols)
      .filter(col("_k") >= col("_kmin"))
    val exact =
      if (!needsTrim) admitted
      else {
        val clean = admitted.filter(!col("_dupb"))
        val trimmed = admitted.filter(col("_dupb"))
          .withColumn("_rn", row_number().over(trimW))
          .filter(col("_rn") <= cap)
          .drop("_rn")
        clean.unionByName(trimmed)
      }
    exact.drop("_k", "_kmin", "_dupb")
  }

  /** Top-K rows per group by an explicit ordering (deterministic iff the
    * ordering is total — callers must include a tie-breaker). */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
                   order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }
}
