package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-16 fleet-ops surfaces: the persisted [[FleetRunbook]] (side
  * inputs that let plan→apply go quiet), the reader-safe
  * [[Clustering.semDedupStateRebuild]], and [[Similarity.fleetHealth]]'s
  * budgeted deep recall probes with the staleness-rotating probe log. */
class FleetOpsSpec extends SparkSpec {
  import spark.implicits._

  private def fresh() = graft.util.TempDirs.fresh("fleetops_")

  private val pts: Seq[Seq[Double]] = Seq(
    Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
    Seq(0.0, 0.0, 1.0, 0.0), Seq(0.9, 0.1, 0.0, 0.0),
    Seq(0.1, 0.9, 0.0, 0.0), Seq(0.0, 0.1, 0.9, 0.0))

  /** `call(dir)` of an IVF-only verb on a MinHash dir and on an empty
    * dir: a named error naming the verb, the dir and the family found,
    * before anything is written. */
  private def failsFastOffIvf(verb: String)(call: String => Unit): Unit = {
    val mh = fresh(); val empty = fresh()
    empty.mkdirs()
    try {
      val mhDir = mh.getAbsolutePath
      Dedup.minhashIndexBuild(Seq(0L -> "the quick brown fox jumps over")
        .toDF("id", "text"), mhDir, "id", "text")
      val before = mh.list().toSet
      Seq(mhDir -> "minhash", empty.getAbsolutePath -> "unknown").foreach {
        case (dir, found) =>
          val e = intercept[IllegalArgumentException](call(dir))
          assert(Seq(verb, dir, s"family found: $found")
            .forall(e.getMessage.contains), e.getMessage)
      }
      assert(mh.list().toSet == before && empty.list().isEmpty)
    } finally Seq(mh, empty).foreach(graft.util.TempDirs.deleteRecursively)
  }

  test("ivfDelete fails fast on a dir that holds no IVF index") {
    failsFastOffIvf("ivfDelete")(d =>
      Similarity.ivfDelete(spark, d, Seq(0L).toDF("id")))
  }

  test("ivfIndexHealthLight fails fast on a dir that holds no IVF index") {
    failsFastOffIvf("ivfIndexHealthLight")(d =>
      Similarity.ivfIndexHealthLight(spark, d))
  }

  test("indexMaintenanceApply fails fast on a dir that holds no IVF " +
    "index") {
    failsFastOffIvf("indexMaintenanceApply")(d =>
      Similarity.indexMaintenanceApply(spark, d, "compact"))
  }

  test("runbook: save/read/entries roundtrip; apply resolves a " +
    "SemDeDup rebuild's vectors AND k policy from it; an explicit " +
    "corpora entry still wins") {
    val semDir = fresh(); val storeDir = fresh(); val rbDir = fresh()
    try {
      val Seq(sem, store, rb) =
        Seq(semDir, storeDir, rbDir).map(_.getAbsolutePath)
      val dvecs = pts.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("vid", "embedding")
      val (labels, cents) = Clustering.kmeansWithCentroids(
        dvecs, "vid", "embedding", k = 1, iterations = 2)
      Clustering.semDedupStateSave(spark, sem, labels, "vid", cents)
      Clustering.releasePairs(labels)
      dvecs.repartition(1).write.parquet(store)
      FleetRunbook.save(spark, rb, Seq(
        (sem, store, "vid", "embedding", Some(2L)))
        .toDF("dir", "side_input_path", "id_col", "payload_col",
          "target_cluster_size"))
      val e = FleetRunbook.entries(spark, rb)(sem)
      assert(e == FleetRunbook.Entry(store, "vid", "embedding",
        Some(2L)))
      // WITHOUT the runbook the rebuild is skipped (the pre-r16 state)
      val plan = Seq((sem, "rebuild")).toDF("dir", "action")
      val skipped = Similarity.fleetMaintenanceApply(spark, plan)
        .select("status").head().getString(0)
      assert(skipped == "skipped")
      // WITH it: executed, and k honored the ⌈n/target⌉ = ⌈6/2⌉ policy
      val done = Similarity.fleetMaintenanceApply(spark, plan,
        runbookDir = Some(rb)).select("status").head().getString(0)
      assert(done == "executed")
      assert(Clustering.semDedupStateHealth(spark, sem)
        .select("n_clusters").head().getLong(0) == 3L)
      // a runbook UPDATE replaces the table atomically; an explicit
      // corpora frame outranks it for the families that take one
      FleetRunbook.save(spark, rb, Seq(
        (sem, store, "vid", "embedding", Option.empty[Long]))
        .toDF("dir", "side_input_path", "id_col", "payload_col",
          "target_cluster_size"))
      assert(FleetRunbook.entries(spark, rb)(sem).targetClusterSize
        .isEmpty)
      val reSkipped = Similarity.fleetMaintenanceApply(spark, plan,
        runbookDir = Some(rb)).select("status").head().getString(0)
      assert(reSkipped == "skipped",
        "a runbook row without the k policy cannot run the re-cluster")
    } finally Seq(semDir, storeDir, rbDir)
      .foreach(graft.util.TempDirs.deleteRecursively)
  }

  test("semDedupStateRebuild is reader-safe and folds pending " +
    "tombstones: one manifest flip carries labels + centroids, the " +
    "retracted id never re-enters, and the pin survives the grace " +
    "window") {
    val dir = fresh()
    try {
      val root = dir.getAbsolutePath
      val dvecs = pts.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("id", "vec")
      val (labels, cents) = Clustering.kmeansWithCentroids(
        dvecs, "id", "vec", k = 1, iterations = 2)
      Clustering.semDedupStateSave(spark, root, labels, "id", cents)
      Clustering.releasePairs(labels)
      Clustering.semDedupStateDelete(spark, root, Seq(5L).toDF("id"))
      val pinned = Manifest.snapshot(spark, root)
      Clustering.semDedupStateRebuild(spark, root, dvecs, "id", "vec",
        k = 3)
      val snap = Manifest.snapshot(spark, root)
      assert(snap.version > pinned.version, "rebuild publishes a flip")
      val newLabels = spark.read.parquet(snap.path("labels"))
      assert(newLabels.filter(col("id") === 5L).count() == 0L,
        "a pending tombstone must not be resurrected by the rebuild")
      assert(newLabels.count() == 5L)
      assert(spark.read.parquet(snap.path("centroids")).count() == 3L)
      assert(Clustering.semDedupStateHealth(spark, root)
        .select("deleted_pending").head().getLong(0) == 0L,
        "the fold empties the tombstone debt in the same flip")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("fleetHealth deep probes: the budget spends EXACTLY n probes " +
    "per sweep, rotates round-robin by staleness through the probe " +
    "log, and light rows keep recall NULL") {
    def ang(deg: Double): Array[Float] = Array(
      math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val c1 = (0 until 6).map(i => (i.toLong, ang(10.0 + i)))
    val c2 = (0 until 6).map(i => (10L + i, ang(80.0 + i)))
    val corpus = (c1 ++ c2).toDF("id", "v")
    val q = Seq((0L, ang(11.0))).toDF("qid", "qv")
    val aDir = fresh(); val bDir = fresh(); val logDir = fresh()
    try {
      val Seq(a, b, log) = Seq(aDir, bDir, logDir).map(_.getAbsolutePath)
      Similarity.ivfBuild(corpus, a, nList = 2, kmeansMaxIter = 2)
      Similarity.ivfBuild(corpus, b, nList = 2, kmeansMaxIter = 2)
      def sweep(): Map[String, Boolean] =
        Similarity.fleetHealth(spark, Seq(a, b), deepProbes = 1,
          probeQueries = Map(a -> q, b -> q), probeK = 6,
          probeNProbe = 1, probeLogDir = Some(log))
          .select("dir", "recall_at_k").collect()
          .map(r => r.getString(0) -> !r.isNullAt(1)).toMap
      assert(sweep() == Map(a -> true, b -> false), "sweep 1 probes A")
      assert(sweep() == Map(a -> false, b -> true), "sweep 2 rotates")
      assert(sweep() == Map(a -> true, b -> false), "sweep 3 wraps")
      val hist = Similarity.probeLogHistory(spark, log)
        .groupBy("dir").agg(count(lit(1)).as("n"), max("sweep").as("s"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      assert(hist == Map(a -> ((2L, 3L)), b -> ((1L, 2L))),
        s"probe log pins the budget and the rotation: $hist")
      // deepProbes = 0 (the default): nothing probed, nothing logged
      val light = Similarity.fleetHealth(spark, Seq(a, b),
        probeQueries = Map(a -> q, b -> q), probeLogDir = Some(log))
        .select("recall_at_k").collect()
      assert(light.forall(_.isNullAt(0)))
      assert(Similarity.probeLogHistory(spark, log).count() == 3L)
    } finally Seq(aDir, bDir, logDir)
      .foreach(graft.util.TempDirs.deleteRecursively)
  }

  test("fleetHealth runbook-resolved deep probes: with no per-dir " +
    "maps at all, the runbook's side-input store supplies the query " +
    "sample (and the PQ exact side), probeSampleN bounds it, and a " +
    "dir in neither map nor runbook stays light") {
    def ang(deg: Double): Array[Float] = Array(
      math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val c1 = (0 until 6).map(i => (i.toLong, ang(10.0 + i)))
    val c2 = (0 until 6).map(i => (10L + i, ang(80.0 + i)))
    val corpus = (c1 ++ c2).toDF("id", "v")
    val aDir = fresh(); val pqDir = fresh(); val cDir = fresh()
    val storeDir = fresh(); val rbDir = fresh()
    try {
      val Seq(a, pq, c, store, rb) =
        Seq(aDir, pqDir, cDir, storeDir, rbDir).map(_.getAbsolutePath)
      Similarity.ivfBuild(corpus, a, nList = 2, kmeansMaxIter = 2)
      Similarity.ivfPqBuild(corpus, pq, nList = 2, m = 2, nCodes = 2)
      Similarity.ivfBuild(corpus, c, nList = 2, kmeansMaxIter = 2)
      // foreign column names + double vectors: the sample path casts
      (c1 ++ c2).map { case (i, v) => (i, v.map(_.toDouble).toSeq) }
        .toDF("vid", "emb").repartition(1).write.parquet(store)
      FleetRunbook.save(spark, rb, Seq(
        (a, store, "vid", "emb", Option.empty[Long]),
        (pq, store, "vid", "emb", Option.empty[Long]))
        .toDF("dir", "side_input_path", "id_col", "payload_col",
          "target_cluster_size"))
      // both runbook'd dirs probe (budget 2), the unbooked one cannot
      // even be a candidate — it stays light
      val h = Similarity.fleetHealth(spark, Seq(a, pq, c),
        deepProbes = 2, probeK = 6, probeNProbe = 1,
        runbookDir = Some(rb))
        .select("dir", "recall_at_k").collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      // two clean well-separated clusters, self-probe queries from the
      // store: every probed list contains its query's true top-6
      assert(h(a).contains(1.0), s"ivf deep probe from the runbook: $h")
      assert(h(pq).contains(1.0), s"pq deep probe from the runbook: $h")
      assert(h(c).isEmpty, s"no runbook row, no queries → light: $h")
    } finally Seq(aDir, pqDir, cDir, storeDir, rbDir)
      .foreach(graft.util.TempDirs.deleteRecursively)
  }

  test("fleetEraseAudit expected_residue: shared shingles are " +
    "explained residue (complete=true), unshared doom stays complete " +
    "at zero, and omitting the remaining suites keeps the raw rule") {
    val keep = Seq(0L -> "alpha beta gamma delta epsilon zeta")
      .toDF("id", "text")
    val retired = Seq(1L -> "alpha beta gamma omicron sigma tau")
      .toDF("id", "text")
    val dir = fresh()
    try {
      val root = dir.getAbsolutePath
      Decontamination.decontamIndexBuild(keep.unionByName(retired),
        root, "text", n = 3)
      Similarity.fleetDelete(spark, Seq(root), retired, "id",
        textCol = Some("text"), decontamRemaining = Some(keep))
      def audit(remaining: Option[org.apache.spark.sql.DataFrame]) =
        Similarity.fleetEraseAudit(spark, Seq(root), retired, "id",
          textCol = Some("text"), decontamRemaining = remaining)
          .select("keys_live", "expected_residue", "complete")
          .head()
      val explained = audit(Some(keep))
      // "alpha beta gamma" is the one shared 3-gram: it survives the
      // rebuild AND the audit expects exactly it
      assert(explained.getLong(0) == 1L && explained.getLong(1) == 1L
        && explained.getBoolean(2), s"$explained")
      val raw = audit(None)
      assert(raw.getLong(0) == 1L && raw.getLong(1) == 0L &&
        !raw.getBoolean(2),
        "without the remaining suites the residue is unexplained — " +
          s"the raw zero rule must flag it: $raw")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }
}
