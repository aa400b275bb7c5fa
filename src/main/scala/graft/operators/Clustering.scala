package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic embedding clustering.
  *
  * [[kmeans]] is fixed-iteration Lloyd's — the reproducible,
  * oracle-checkable companion to the driver-side Lloyd fits inside
  * [[Similarity]]'s IVF indexes (those train on a seeded sample with
  * unrounded double sums; this one is mirrorable term for term in
  * SQL). [[semDedup]] composes it into SemDeDup-style semantic
  * near-duplicate detection (Abbas et al. 2023): cluster first, then
  * compare only within a cluster.
  */
object Clustering {

  /** Lloyd's k-means with a FIXED iteration count and deterministic
    * initialization.
    *
    * - Init: the `k` lowest-`idCol` vectors, in id order.
    * - Assign: argmin of squared-L2 distance to the `k` broadcast
    *   centroids; distances round at `roundTo` dp and ties break on the
    *   lower centroid index, so a near-tie cannot flip across engines.
    * - Update: per-(cluster, dim) means — elements round at `roundTo`
    *   dp into exact `DECIMAL(18,roundTo)` sums (order-independent),
    *   divided back in double. An empty cluster keeps its centroid.
    *
    * Scale shape: centroids are k·d doubles — bounded driver/broadcast
    * state by definition, the same discipline as
    * [[Similarity.ivfPq]]'s codebooks. Each iteration is ONE scan of
    * the cached vectors ending in a k·d-row aggregate; the vectors are
    * never shuffled and never collected. Returns `(idCol, cluster)`.
    */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
             iterations: Int, roundTo: Int = 9): DataFrame =
    kmeansWithCentroids(df, idCol, vecCol, k, iterations, roundTo)._1

  /** [[kmeans]] also returning the FINAL centroids — the bounded (k·d
    * doubles) state [[semDedupIncremental]] assigns later batches
    * against, the same save-the-quantizer move as
    * [[Similarity.ivfBuild]]'s centroid table. */
  def kmeansWithCentroids(df: DataFrame, idCol: String, vecCol: String,
                          k: Int, iterations: Int, roundTo: Int = 9)
      : (DataFrame, Array[Array[Double]]) = {
    require(k >= 1 && iterations >= 1 && roundTo >= 1 && roundTo <= 15)
    val spark = df.sparkSession
    val v = df.select(col(idCol).as("_id"),
        col(vecCol).cast("array<double>").as("_v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val init = v.orderBy("_id").limit(k).collect()
      .map(_.getSeq[Double](1).toArray)
    require(init.length == k, s"need at least $k vectors, got ${init.length}")

    def assign(cs: Array[Array[Double]]) = assignTo(spark, cs, roundTo)

    var centroids = init
    for (_ <- 1 to iterations) {
      val stats = v
        .select(assign(centroids)(col("_v")).as("_cl"),
          posexplode(col("_v")).as(Seq("_j", "_x")))
        .groupBy("_cl", "_j")
        .agg(sum(round(col("_x"), roundTo)
            .cast(s"decimal(18,$roundTo)")).as("_s"),
          count(lit(1)).as("_n"))
        .collect()
      val next = centroids.map(_.clone())
      stats.foreach { r =>
        // exact decimal sum → nearest double, then one double division:
        // the same two correctly-rounded steps the SQL mirror takes
        next(r.getInt(0))(r.getInt(1)) =
          r.getDecimal(2).doubleValue() / r.getLong(3)
      }
      centroids = next
    }
    // eager-materialize the (node-sized) assignment so the iteration
    // cache can be RELEASED — returning a lazy frame over `v` would pin
    // the full vector cache for the session (one orphaned corpus-sized
    // cache per invocation across a long suite)
    val out = v
      .select(col("_id").as(idCol), assign(centroids)(col("_v")).as("cluster"))
      .localCheckpoint(true)
    v.unpersist(false)
    (out, centroids)
  }

  /** The [[kmeans]] assignment kernel as a standalone UDF: argmin of
    * `roundTo`-dp-rounded squared L2 against broadcast centroids, ties
    * to the lower index — exposed so batch assignment reproduces
    * training assignment bit for bit. */
  private def assignTo(spark: org.apache.spark.sql.SparkSession,
                       centroids: Array[Array[Double]], roundTo: Int) = {
    val bc = spark.sparkContext.broadcast(centroids)
    udf { (vec: Seq[Double]) =>
      val a = vec.toArray
      var best = 0
      var bestD = Double.MaxValue
      var i = 0
      while (i < bc.value.length) {
        val c = bc.value(i)
        var d = 0.0
        var j = 0
        while (j < c.length) { val t = a(j) - c(j); d += t * t; j += 1 }
        val rd = java.math.BigDecimal.valueOf(d)
          .setScale(roundTo, java.math.RoundingMode.HALF_UP)
          .doubleValue()
        if (rd < bestD) { bestD = rd; best = i }
        i += 1
      }
      best
    }
  }

  /** TWO-LEVEL deterministic k-means: a coarse pass with k₁ = ⌈√k⌉
    * cells ([[kmeans]], centroids broadcast), then an all-cells-at-once
    * fine pass that sub-clusters each cell into k₂(c) = ⌈n_c / target⌉
    * clusters. Returns `(idCol, cluster)` with
    * `cluster = cell · 2³² + fineIndex`.
    *
    * WHY two levels: single-level k-means with k ∝ n (the only k that
    * keeps within-cluster pair generation linear for SemDeDup) costs
    * O(n·k·d) per Lloyd pass = O(n²·d/target) — the r8 100× scaling
    * decade measured q105 at 217× the time for 100× data, and the
    * driver-side init collect of k vectors grows linearly too. The
    * hierarchy cuts assignment to O(n·√k·d) per pass (each point
    * compares to √k coarse then ~√k fine centroids) and bounds driver
    * state to the coarse level's k₁·d = √k·d doubles: the fine level
    * never touches the driver — init is a per-cell window rank, each
    * update is a (cell, j, dim) hash aggregate that STAYS a DataFrame,
    * and assignment joins each point to its own cell's centroid array
    * (Σ k₂·d doubles total, broadcast-class at any sane target size).
    *
    * Determinism (oracle-mirrorable, the [[kmeans]] conventions):
    * fine init is the k₂(c) lowest-id vectors per cell in id order;
    * distances are sequential double sums rounded at `roundTo` dp with
    * lower-index tiebreak; means are DECIMAL(18,roundTo)-exact element
    * sums divided back in double; an empty fine cluster keeps its
    * previous centroid. */
  def kmeansTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                     targetClusterSize: Long, iterations: Int,
                     roundTo: Int = 9): DataFrame = {
    val (out, _, fineCent) = kmeansTwoLevelWithState(df, idCol, vecCol,
      targetClusterSize, iterations, roundTo)
    releasePairs(fineCent)
    out
  }

  /** [[kmeansTwoLevel]] also returning the frozen quantizer state —
    * (labels, coarse centroids, fine-centroid frame `(_cell, _fj, _c)`)
    * — so [[semDedupIncrementalAuto]] can assign later batches without
    * re-clustering. The fine frame is a retained local checkpoint
    * (Σk₂·d doubles): release it with [[releasePairs]] when done. */
  def kmeansTwoLevelWithState(df: DataFrame, idCol: String,
                              vecCol: String, targetClusterSize: Long,
                              iterations: Int, roundTo: Int = 9)
      : (DataFrame, Array[Array[Double]], DataFrame) = {
    require(targetClusterSize >= 1 && iterations >= 1)
    import org.apache.spark.sql.expressions.Window
    val n = df.count()
    val k = math.max(1L,
      (n + targetClusterSize - 1) / targetClusterSize)
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    val (coarseLabels, coarseCentroids) =
      kmeansWithCentroids(df, idCol, vecCol, k1, iterations, roundTo)
    val coarse = coarseLabels.withColumnRenamed("cluster", "_cell")
    val pts = df
      .select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_v"))
      .join(coarse.withColumnRenamed(idCol, "_id"), "_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // fine init: the ⌈n_c/target⌉ lowest-id vectors of each cell, fine
    // index = id rank − 1 (dense 0..k₂−1, so argmin index IS the label)
    val sizes = pts.groupBy("_cell").agg(count(lit(1)).as("_nc"))
    val rk = row_number().over(Window.partitionBy("_cell").orderBy("_id"))
    // each round's centroid frame is Σk₂·(d+2) values — tiny — but it
    // is referenced twice per iteration (assignment + the
    // keep-empty-clusters frame) and once more by the next round:
    // without eager materialization the lazy plan re-executes every
    // upstream round per reference. localCheckpoint each round (the
    // connected-components rounds convention) so plan depth and
    // recomputation stay constant per iteration.
    var cent = pts.join(sizes, "_cell")
      .withColumn("_rk", rk)
      .filter(col("_rk") <=
        ceil(col("_nc") / lit(targetClusterSize.toDouble)).cast("long"))
      .select(col("_cell"), (col("_rk") - 1).cast("int").as("_fj"),
        col("_v").as("_c"))
      .localCheckpoint(true)
    val assignF = fineAssignUdf(roundTo)
    // keeps _v in the output so the update pass needs no re-join
    def assign(c: DataFrame): DataFrame = pts.join(fineGrouped(c), "_cell")
      .select(col("_id"), col("_cell"), col("_v"),
        assignF(col("_v"), col("_cl")).as("_fj"))
    for (_ <- 1 to iterations) {
      val stats = assign(cent)
        .select(col("_cell"), col("_fj"), posexplode(col("_v")).as(Seq("_j", "_x")))
        .groupBy("_cell", "_fj", "_j")
        .agg((sum(round(col("_x"), roundTo)
            .cast(s"decimal(18,$roundTo)")).cast("double") /
          count(lit(1))).as("_mu"))
      val frame = cent
        .select(col("_cell"), col("_fj"), posexplode(col("_c")).as(Seq("_j", "_pc")))
      val prev = cent
      cent = frame.join(stats, Seq("_cell", "_fj", "_j"), "left")
        .withColumn("_m", coalesce(col("_mu"), col("_pc")))
        .groupBy("_cell", "_fj")
        .agg(sort_array(collect_list(struct(col("_j"), col("_m")))).as("_ms"))
        .select(col("_cell"), col("_fj"),
          transform(col("_ms"), s => s.getField("_m")).as("_c"))
        .localCheckpoint(true)
      prev.queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(false)
        case _ => ()
      }
    }
    // eager-materialize the (node-sized) labels, then RELEASE the
    // iteration state: the pts cache (a full id+vector copy) and the
    // last round's checkpoint RDD would otherwise stay pinned for the
    // session ([[kmeans]]'s rationale)
    val out = assign(cent).select(col("_id").as(idCol),
      (col("_cell").cast("long") * lit(4294967296L) +
        col("_fj").cast("long")).as("cluster"))
      .localCheckpoint(true)
    pts.unpersist(false)
    // release the coarse [[kmeans]] assignment checkpoint (an n-row RDD
    // reachable only through the already-materialized pts) — collect
    // over the plan tree because coarse sits under a Project. The fine
    // centroid frame `cent` is RETURNED (bounded: Σk₂·d doubles); the
    // caller releases it ([[kmeansTwoLevel]] does so immediately).
    coarse.queryExecution.logical.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(false)
      case _ => ()
    }
    (out, coarseCentroids, cent)
  }

  /** Per-cell fine-centroid arrays in fine-index order: sort_array on
    * the (fj, c) struct sorts by fj, so array position == fine index. */
  private def fineGrouped(c: DataFrame): DataFrame = c
    .groupBy("_cell")
    .agg(sort_array(collect_list(struct(col("_fj"), col("_c"))))
      .as("_cs"))
    .select(col("_cell"),
      transform(col("_cs"), s => s.getField("_c")).as("_cl"))

  /** The fine-level assignment kernel: argmin of `roundTo`-dp-rounded
    * squared L2 over a per-row centroid array, ties to the lower index
    * — an empty array (a batch point landing in a base-empty cell)
    * yields fine index 0. */
  private def fineAssignUdf(roundTo: Int) =
    udf { (v: Seq[Double], cents: Seq[Seq[Double]]) =>
      val a = v.toArray
      var best = 0
      var bestD = Double.MaxValue
      var i = 0
      while (i < cents.length) {
        val c = cents(i)
        var d = 0.0
        var j = 0
        while (j < c.length) { val t = a(j) - c(j); d += t * t; j += 1 }
        val rd = java.math.BigDecimal.valueOf(d)
          .setScale(roundTo, java.math.RoundingMode.HALF_UP)
          .doubleValue()
        if (rd < bestD) { bestD = rd; best = i }
        i += 1
      }
      best
    }

  /** [[semDedup]] with the cluster count derived from the data:
    * k = ceil(n / targetClusterSize), clustered by [[kmeansTwoLevel]].
    * A FIXED k is a scale trap — 10× the points with the same k means
    * 10× per cluster and 100× within-cluster pairs (r7's scaling run
    * measured exactly that: 31× time for 10× data). Pinning the
    * EXPECTED CLUSTER SIZE keeps pair generation linear in n — but a
    * SINGLE-LEVEL k ∝ n is its own trap (O(n·k·d) assignment = O(n²);
    * the r8 100× decade measured 217× time for 100× data), hence the
    * two-level hierarchy. */
  def semDedupAuto(df: DataFrame, idCol: String, vecCol: String,
                   tau: Double, targetClusterSize: Long, iterations: Int,
                   maxCluster: Long = 100000L): DataFrame = {
    require(targetClusterSize >= 1)
    val assigned = kmeansTwoLevel(df, idCol, vecCol, targetClusterSize,
      iterations)
    semDedupPairs(df, assigned, idCol, vecCol, tau, maxCluster)
  }

  /** SemDeDup-style semantic near-duplicate pairs: k-means first, then
    * cosine only WITHIN a cluster — the clustering turns the O(n²)
    * all-pairs comparison into Σ cluster², with the cluster count
    * choosing the trade-off (the same role LSH bands play in
    * [[Dedup.minhashLsh]], but data-adaptive). Emits
    * `(cluster, id_a, id_b, cosine)` for pairs with cosine ≥ `tau`;
    * downstream keeper selection is [[Dedup.resolveClusters]]'s job.
    *
    * A skewed cluster is quadratic in its size — `maxCluster` guards
    * the pathological case (a cluster larger than the cap is dropped
    * from pairing, the [[Dedup]] hot-bucket convention).
    *
    * RELEASE CONTRACT: the returned frame is an eagerly-materialized
    * local checkpoint (that is what lets the corpus-sized iteration
    * caches drop immediately), so ONE pinned RDD — the tau-bounded pair
    * set itself — stays in the block manager until the caller is done
    * with it. Call [[releasePairs]] then; repeated un-released calls
    * accumulate one pinned pair set each. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, tau: Double,
               k: Int, iterations: Int,
               maxCluster: Long = 100000L): DataFrame =
    semDedupPairs(df, kmeans(df, idCol, vecCol, k, iterations), idCol,
      vecCol, tau, maxCluster)

  /** INCREMENTAL SemDeDup for a daily batch: cluster the BASE corpus
    * once (deterministic [[kmeans]] — at 100 TB this ran yesterday),
    * assign the BATCH to the FINAL centroids (one broadcast pass, the
    * [[Similarity.ivfAppend]] move — no re-clustering), and emit only
    * near-duplicate pairs INVOLVING a batch point, within the clusters
    * the batch touched. Base-vs-base pairs were yesterday's output;
    * today's scan cost is |batch| assignment plus batch-touched-cluster
    * pairing, not a corpus re-cluster. Ids must be unique across
    * base ∪ batch. Same release contract as [[semDedup]]
    * ([[releasePairs]]); same `maxCluster` hot-cluster guard, measured
    * on the cluster's TOTAL (base + batch) size. */
  def semDedupIncremental(base: DataFrame, batch: DataFrame,
                          idCol: String, vecCol: String, tau: Double,
                          k: Int, iterations: Int,
                          maxCluster: Long = 100000L): DataFrame = {
    val spark = base.sparkSession
    val (baseLabels, centroids) =
      kmeansWithCentroids(base, idCol, vecCol, k, iterations)
    val assign = assignTo(spark, centroids, roundTo = 9)
    def vecs(df: DataFrame, isNew: Boolean) =
      df.select(col(idCol).as("_id"),
        col(vecCol).cast("array<double>").as("_v"))
        .withColumn("_new", lit(isNew))
    val baseSide = vecs(base, isNew = false)
      .join(baseLabels.select(col(idCol).as("_id"), col("cluster")), "_id")
    val batchSide = vecs(batch, isNew = true)
      .withColumn("cluster", assign(col("_v")))
    val out = incrementalPairs(baseSide, batchSide, tau, maxCluster)
    releasePairs(baseLabels) // the labels checkpoint has no consumer now
    out
  }

  /** [[semDedupIncremental]] with the SCALE clustering: the base runs
    * [[kmeansTwoLevel]] (k ∝ n/target with O(n·√k·d) assignment — the
    * q105 lesson: a fixed k makes within-cluster pairing quadratic, a
    * single-level k ∝ n makes assignment quadratic), and the batch
    * replays BOTH frozen levels — coarse centroids broadcast, fine
    * centroids joined per cell — under the training kernels' exact
    * rounding/tie-break. A batch point landing in a base-empty coarse
    * cell forms its own cluster (fine index 0). This is the daily
    * semantic-dedup increment at 100 TB: linear in the batch, never a
    * corpus re-cluster. */
  def semDedupIncrementalAuto(base: DataFrame, batch: DataFrame,
                              idCol: String, vecCol: String, tau: Double,
                              targetClusterSize: Long, iterations: Int,
                              maxCluster: Long = 100000L): DataFrame = {
    val spark = base.sparkSession
    val (baseLabels, coarseCentroids, fineCent) =
      kmeansTwoLevelWithState(base, idCol, vecCol, targetClusterSize,
        iterations)
    val coarseAssign = assignTo(spark, coarseCentroids, roundTo = 9)
    def vecs(df: DataFrame, isNew: Boolean) =
      df.select(col(idCol).as("_id"),
        col(vecCol).cast("array<double>").as("_v"))
        .withColumn("_new", lit(isNew))
    val baseSide = vecs(base, isNew = false)
      .join(baseLabels.select(col(idCol).as("_id"), col("cluster")), "_id")
    val batchSide = vecs(batch, isNew = true)
      .withColumn("_cell", coarseAssign(col("_v")))
      .join(fineGrouped(fineCent), Seq("_cell"), "left")
      .withColumn("_fj", fineAssignUdf(9)(col("_v"),
        coalesce(col("_cl"),
          array().cast("array<array<double>>"))))
      .select(col("_id"), col("_v"), col("_new"),
        (col("_cell").cast("long") * lit(4294967296L) +
          col("_fj").cast("long")).as("cluster"))
    val out = incrementalPairs(baseSide, batchSide, tau, maxCluster)
    Seq(baseLabels, fineCent).foreach(releasePairs)
    out
  }

  /** Shared pairing tail of the incremental SemDeDup paths: union the
    * labeled sides, prune to batch-touched clusters (bounded semi-join),
    * apply the hot-cluster guard on TOTAL size, and emit tau-bounded
    * batch-involving pairs as an eagerly-materialized checkpoint. */
  // ---- persisted SemDeDup state --------------------------------------
  // [[semDedupIncremental]]'s docstring says "at 100 TB this ran
  // yesterday" — these persist yesterday's run so today's batch never
  // re-clusters: the base labels and frozen centroids land on disk
  // once, each increment loads the (bounded, k·d doubles) centroids,
  // assigns the batch, and fetches base VECTORS only for rows of
  // batch-touched clusters (labels prune BEFORE the vector join, so
  // the corpus embedding table is never scanned corpus-wide).

  /** Save a base clustering (the `(labels, centroids)` pair
    * [[kmeansWithCentroids]] returns) as the persistent SemDeDup state:
    * labels as a distributed table, centroids as one bounded file. */
  def semDedupStateSave(spark: org.apache.spark.sql.SparkSession,
                        dir: String, labels: DataFrame, idCol: String,
                        centroids: Array[Array[Double]]): Unit = {
    import spark.implicits._
    labels.select(col(idCol).as("id"), col("cluster"))
      .write.mode("overwrite").parquet(s"$dir/labels.parquet")
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "center")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/centroids.parquet")
    // in-place fresh save (reader-UNSAFE, like any fresh build): drop
    // any stale manifest so an earlier versioned append cannot shadow it
    Manifest.reset(spark, dir)
  }

  /** Fold an ACCEPTED batch into the persisted state: the batch assigns
    * under the frozen centroids (the exact kernel
    * [[semDedupIncrementalPersisted]] probes with, so tomorrow's probe
    * and today's accept agree on every cluster id) and its `(id,
    * cluster)` labels append to the label table — day-2 batches near-dup
    * against day-1's accepted batch WITHOUT a base re-cluster. Writer
    * contract as every index append in this package:
    * [[Manifest.withLock]] held for the whole drop, live table resolved
    * through the snapshot inside it. Centroids are never touched — the
    * state's quantizer stays frozen until an explicit
    * [[semDedupStateSave]] rebuild. */
  def semDedupStateAppend(spark: org.apache.spark.sql.SparkSession,
                          dir: String, batch: DataFrame, idCol: String,
                          vecCol: String,
                          batchId: Option[String] = None): Unit = {
    val assign = assignTo(spark, loadStateCentroids(spark, dir),
      roundTo = 9)
    Lifecycle.append(spark, dir, batchId) { snap =>
      batch.select(col(idCol).as("id"),
        assign(col(vecCol).cast("array<double>")).as("cluster"))
        .write.mode("append").parquet(snap.path("labels"))
      batch.select(col(idCol).as("id"))
    }
  }

  /** Retract documents from the persisted SemDeDup state
    * ([[Manifest]]'s [[Tombstones]] — the erasure verb): the ids'
    * label rows stop contributing to incremental probes immediately
    * (the base side anti-joins pending tombstones) and are physically
    * dropped by the next [[semDedupStateCompact]]. */
  def semDedupStateDelete(spark: org.apache.spark.sql.SparkSession,
                          dir: String, ids: DataFrame,
                          idCol: String = "id"): Unit =
    Tombstones.retractIds(spark, Manifest.snapshot(spark, dir), "labels",
      ids, idCol)

  /** Operational health report of a persisted SemDeDup state — the
    * fleet-table row for this family (q220's shape): label-table size
    * and CLUSTER-SKEW readings, because an over-cap cluster is this
    * state's failure mode ([[semDedupIncrementalPersisted]]'s
    * `maxCluster` guard silently skips clusters past the cap, so a
    * growing `hot_clusters` count means near-dups are going unreported
    * — the quantizer's k has fallen behind the corpus and a
    * [[semDedupStateSave]] rebuild with more clusters is due), plus
    * append-fragment count (each [[semDedupStateAppend]] drops one file
    * set; [[semDedupStateCompact]] folds them). One bounded aggregate
    * over the label table plus one FS listing. */
  def semDedupStateHealth(spark: org.apache.spark.sql.SparkSession,
                          dir: String,
                          hotClusterCap: Long = 100000L): DataFrame = {
    val snap = Manifest.snapshot(spark, dir)
    val k = Manifest.read(spark, snap.path("centroids")).count()
    val sizes = Manifest.read(spark, snap.path("labels")).groupBy("cluster")
      .agg(count(lit(1)).as("_n"))
    // one collected plan, no per-reading driver jobs, pending/ingest
    // fused into a single aggregate side (see
    // [[Dedup.exactIndexHealth]])
    OpsStats.attach(spark, snap)(Lifecycle.healthRow(spark, snap, "labels",
      sizes)(
      lit(k).as("n_clusters"),
      sum(col("_n")).as("total_rows"),
      count(lit(1)).as("occupied_clusters"),
      max(col("_n")).as("max_cluster"),
      count(when(col("_n") > hotClusterCap, 1)).as("hot_clusters")))
  }

  /** Fold the label table's accumulated append fragments into one
    * coherent file set behind a [[Manifest]] flip, range-clustered on
    * `cluster` — the key [[semDedupIncrementalPersisted]]'s
    * touched-cluster semi-join prunes on, so row-group min/max pruning
    * works after the rewrite. Lock held across the whole
    * read→rewrite→flip span like every compactor in this package. */
  def semDedupStateCompact(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Unit =
    // Replayed/repaired appends land identical (id, cluster) rows
    // under the frozen centroids — fold them by FULL-ROW distinct gated
    // on replay evidence, or duplicate label rows skew every SemDeDup
    // increment (see [[Similarity.ivfCompact]]: divergent same-id rows
    // survive loudly; the no-replay path is a straight rewrite)
    Lifecycle.compactFlat(spark, dir, "labels", Seq("cluster"),
      Lifecycle.Dedupe.OnReplay, Lifecycle.Parts.Auto)

  /** Reader-safe REBUILD of a persisted SemDeDup state from the
    * embedding store — [[Similarity.ivfCompact]]`(rebuild = true)` for
    * this family: re-cluster the live vectors at a NEW k (the remedy
    * for a `hot_clusters` verdict — the frozen quantizer's k fell
    * behind the corpus) and flip labels + centroids in ONE manifest
    * publish, so a concurrent reader never pairs new labels with old
    * centroids. Unlike [[semDedupStateSave]] (a fresh in-place build,
    * documented reader-unsafe), this refits a LIVE state: pending
    * tombstones fold (retracted ids are dropped from the refit input
    * and the emptied table flips in the same publish). The
    * [[Similarity.fleetMaintenanceApply]] dispatch runs this from the
    * [[FleetRunbook]]'s side input with k = ⌈n / target⌉ — the
    * previously-`skipped` row of the unattended fleet loop. */
  def semDedupStateRebuild(spark: org.apache.spark.sql.SparkSession,
                           dir: String, vecs: DataFrame,
                           idCol: String = "id", vecCol: String = "vec",
                           k: Int, iterations: Int = 10): Unit =
    Lifecycle.rewrite(spark, dir) { snap =>
      // the embedding store may still carry retracted ids — a rebuild
      // that re-labeled them would silently resurrect deleted rows
      val live = Tombstones.live(spark, snap,
        vecs.select(col(idCol).as("id"), col(vecCol).as("vec")))
      val (labels, cents) = kmeansWithCentroids(live, "id", "vec", k,
        iterations)
      import spark.implicits._
      val tmpL = s"$dir/_rebuild.tmp.labels"
      val tmpC = s"$dir/_rebuild.tmp.centroids"
      Lifecycle.writeClustered(labels.select(col("id"), col("cluster")),
        Seq("cluster"), None, tmpL)
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cluster", "center")
        .coalesce(1).write.mode("overwrite").parquet(tmpC)
      releasePairs(labels)
      Seq("labels" -> tmpL, "centroids" -> tmpC)
    }

  /** The LIVE ids of a persisted SemDeDup label state (pending
    * tombstones excluded) — the "already indexed" membership the
    * unified admission's semantic stage classifies pair ends with
    * ([[CorpusPipeline.admitBatch]]): a batch re-admitting an indexed
    * id must not have real batch-vs-indexed pairs against that id
    * silently excluded as intra-batch. */
  def semDedupStateLiveIds(spark: org.apache.spark.sql.SparkSession,
                           dir: String): DataFrame = {
    val snap = Manifest.snapshot(spark, dir)
    Tombstones.live(spark, snap,
      Manifest.read(spark, snap.path("labels"))).select("id")
  }

  /** The frozen centroids of a persisted state, as one bounded collect
    * (k·d doubles — broadcast-class by construction). */
  private def loadStateCentroids(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): Array[Array[Double]] =
    Manifest.read(spark, Manifest.snapshot(spark, dir).path("centroids"))
      .collect().sortBy(_.getAs[Int]("cluster"))
      .map(_.getAs[Seq[Double]]("center").toArray)

  /** [[semDedupIncremental]] against the persisted state: frozen
    * centroids load as one bounded collect, the batch assigns under
    * the training kernel's exact rounding/tie-break, and only
    * batch-involving pairs within touched clusters emit — identical
    * output to the in-run incremental, without re-clustering or
    * corpus-wide vector fetches. `base` supplies vectors by id for the
    * touched clusters' rows only. Release contract as [[semDedup]]. */
  def semDedupIncrementalPersisted(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      base: DataFrame, batch: DataFrame, idCol: String, vecCol: String,
      tau: Double, maxCluster: Long = 100000L): DataFrame = {
    val (pairs, handles) = semDedupIncrementalPersistedLazy(spark, dir,
      base, batch, idCol, vecCol, tau, maxCluster, preloaded = None)
    val out = pairs.localCheckpoint(true)
    handles.foreach(_.unpersist(false))
    out
  }

  /** The (snapshot, frozen centroids) pair
    * [[semDedupIncrementalPersistedLazy]] resolves per probe — load it
    * ONCE per streaming query (one bounded collect) when the state is
    * read-only for the stream's lifetime, instead of one collect job
    * per micro-batch. */
  private[operators] def semDedupProbeState(
      spark: org.apache.spark.sql.SparkSession, dir: String)
    : (Manifest.Snapshot, Array[Array[Double]]) = {
    // one snapshot resolves BOTH tables: a state append flipping
    // mid-probe cannot pair new labels with other-version centroids
    val snap = Manifest.snapshot(spark, dir)
    val centroids = Manifest.read(spark, snap.path("centroids"))
      .orderBy("cluster").collect()
      .map(_.getAs[Seq[Double]]("center").toArray)
    (snap, centroids)
  }

  /** [[semDedupIncrementalPersisted]]'s LAZY core (the
    * [[Dedup.probeLazy]] contract: lazy pair frame + persisted
    * handles to release after the plan is consumed). `preloaded`
    * supplies a [[semDedupProbeState]] resolved once for a read-only
    * scope (the streaming admission loop); None resolves fresh. */
  private[operators] def semDedupIncrementalPersistedLazy(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      base: DataFrame, batch: DataFrame, idCol: String, vecCol: String,
      tau: Double, maxCluster: Long,
      preloaded: Option[(Manifest.Snapshot, Array[Array[Double]])])
    : (DataFrame, Seq[DataFrame]) = {
    val (snap, centroids) =
      preloaded.getOrElse(semDedupProbeState(spark, dir))
    val assign = assignTo(spark, centroids, roundTo = 9)
    val batchSide = batch.select(col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_new", lit(true))
      .withColumn("cluster", assign(col("_v")))
    // prune labels to touched clusters BEFORE fetching vectors: the
    // increment's base-side IO is proportional to touched clusters,
    // not the corpus
    val touched = batchSide.select("cluster").distinct()
    val baseSide = Tombstones.live(spark, snap,
        Manifest.read(spark, snap.path("labels")))
      .join(broadcast(touched), Seq("cluster"), "left_semi")
      .join(base.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("_v")), Seq("id"))
      .select(col("id").as("_id"), col("_v"), lit(false).as("_new"),
        col("cluster"))
    incrementalPairsLazy(baseSide, batchSide, tau, maxCluster)
  }

  private def incrementalPairs(baseSide: DataFrame, batchSide: DataFrame,
                               tau: Double, maxCluster: Long): DataFrame = {
    val (pairs, handles) =
      incrementalPairsLazy(baseSide, batchSide, tau, maxCluster)
    val out = pairs.localCheckpoint(true)
    handles.foreach(_.unpersist(false))
    out
  }

  private def incrementalPairsLazy(baseSide: DataFrame,
                                   batchSide: DataFrame, tau: Double,
                                   maxCluster: Long)
    : (DataFrame, Seq[DataFrame]) = {
    val all = baseSide.select("cluster", "_id", "_v", "_new")
      .unionByName(batchSide.select("cluster", "_id", "_v", "_new"))
    // only clusters the batch actually hit can produce new pairs —
    // a bounded (≤ k ints) semi-join keys the pruning
    val touched = batchSide.select("cluster").distinct()
    val guarded = all.join(broadcast(touched), Seq("cluster"),
        "left_semi")
      .join(all.groupBy("cluster").agg(count(lit(1)).as("_sz")),
        "cluster")
      .filter(col("_sz") <= maxCluster).drop("_sz")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = guarded.select(col("cluster"), col("_id").as("id_a"),
      col("_v").as("_va"), col("_new").as("_na"))
    val b = guarded.select(col("cluster"), col("_id").as("id_b"),
      col("_v").as("_vb"), col("_new").as("_nb"))
    val out = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b") && (col("_na") || col("_nb")))
      .select(col("cluster"), col("id_a"), col("id_b"),
        graft.functions.VectorOps.cosine(col("_va"), col("_vb"))
          .as("cosine"))
      .filter(col("cosine") >= tau)
    (out, Seq(guarded))
  }

  /** Release the one block-manager RDD a [[semDedup]]/[[semDedupAuto]]
    * result pins (see the release contract on [[semDedup]]). Safe on any
    * frame — non-checkpoint plans are a no-op; the frame must not be
    * read again afterwards. */
  def releasePairs(result: DataFrame): Unit =
    result.queryExecution.logical.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(false)
      case _ => ()
    }

  /** Within-cluster cosine pairing shared by [[semDedup]] (single-level
    * assignment) and [[semDedupAuto]] (two-level): `assigned` is any
    * `(idCol, cluster)` frame. */
  private def semDedupPairs(df: DataFrame, assigned: DataFrame,
                            idCol: String, vecCol: String, tau: Double,
                            maxCluster: Long): DataFrame = {
    val withVec = df.select(col(idCol), col(vecCol))
      .join(assigned, idCol)
      .select(col("cluster"), col(idCol).as("_id"),
        col(vecCol).cast("array<double>").as("_v"))
    val guarded = withVec.join(
      withVec.groupBy("cluster").agg(count(lit(1)).as("_sz")), "cluster")
      .filter(col("_sz") <= maxCluster).drop("_sz")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = guarded.select(col("cluster"), col("_id").as("id_a"),
      col("_v").as("_va"))
    val b = guarded.select(col("cluster"), col("_id").as("id_b"),
      col("_v").as("_vb"))
    // eager-materialize the (tau-bounded) pair output so the iteration
    // state can be RELEASED — returning a lazy frame would pin the
    // corpus-sized `guarded` cache for the session, plus the `assigned`
    // labels' checkpoint RDD (the exact leak [[kmeans]] and
    // [[kmeansTwoLevel]] eagerly materialize-and-unpersist to avoid)
    val out = a.join(b, Seq("cluster")).filter(col("id_a") < col("id_b"))
      .select(col("cluster"), col("id_a"), col("id_b"),
        graft.functions.VectorOps.cosine(col("_va"), col("_vb"))
          .as("cosine"))
      .filter(col("cosine") >= tau)
      .localCheckpoint(true)
    guarded.unpersist(false)
    // the labels frame from kmeans/kmeansTwoLevel is itself a retained
    // checkpoint; it has no consumer after the pair materialization
    assigned.queryExecution.logical.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(false)
      case _ => ()
    }
    out
  }
}
