package graft.operators

import graft.{Planted, SparkSpec}
import graft.FleetFamily._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The round-15 erasure/retraction contracts: append-supersedes-delete
  * (a re-admitted doc survives the tombstone fold), the plan-free
  * folded-tombstone steady state, idempotent repair re-appends for the
  * vector/label families, sharer-safe content-keyed deletes, the
  * executable decontam rebuild retraction, the fleet-wide erasure
  * audit, and point-in-time manifest pins. */
class ErasureLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def fresh() = graft.util.TempDirs.fresh("erasure_")

  test("append-supersedes-delete: a text deleted then re-admitted " +
    "survives the compaction fold (exact-hash family)") {
    val doc = Seq(1L -> "pack my box with five dozen liquor jugs")
      .toDF("id", "text")
    val other = Seq(0L -> "the quick brown fox jumps over the lazy dog")
      .toDF("id", "text")
    val probe = Seq(9L -> "pack my box with five dozen liquor jugs")
      .toDF("id", "text")
    def isDup(dir: String): Boolean =
      Dedup.exactIndexProbe(spark, dir, probe, "id", "text")
        .select("is_dup").head().getBoolean(0)
    val dir = fresh()
    try {
      val root = dir.getAbsolutePath
      Dedup.exactIndexBuild(other.unionByName(doc), root, "id", "text")
      Dedup.exactIndexDelete(spark, root, doc, "id", "text")
      assert(!isDup(root), "delete must silence the probe")
      // the admission loop re-accepts the text (probe said not-a-dup)
      // and appends it back — BEFORE any compaction folded the debt
      Dedup.exactIndexAppend(spark, root, doc, "id", "text",
        batchId = Some("readd"))
      assert(isDup(root), "re-append must supersede the pending delete")
      Dedup.exactIndexCompact(spark, root)
      assert(isDup(root),
        "the fold must NOT drop the re-added row (the divergence bug)")
      // and the pruned tombstone left no residual debt
      assert(Dedup.exactIndexHealth(spark, root)
        .select("deleted_pending").head().getLong(0) == 0L)
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("append-supersedes-delete holds for an id-keyed family " +
    "(simhash), including partial prune of a multi-key tombstone set") {
    val docs = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "one two three four five six seven eight").toDF("id", "text")
    def hits(dir: String, baseId: Long): Long =
      Dedup.simhashIndexProbe(spark, dir,
        docs.filter(col("id") === baseId)
          .select((col("id") + 100L).as("id"), col("text")),
        "id", "text", maxHamming = 0)
        .filter(col("base_id") === baseId).count()
    val dir = fresh()
    try {
      val root = dir.getAbsolutePath
      Dedup.simhashIndexBuild(docs, root, "id", "text")
      Dedup.simhashIndexDelete(spark, root, Seq(1L, 2L).toDF("id"))
      assert(hits(root, 1L) == 0 && hits(root, 2L) == 0)
      // only doc 1 is re-admitted: its tombstone is pruned, doc 2's
      // must SURVIVE the prune rewrite
      Dedup.simhashIndexAppend(spark, root,
        docs.filter(col("id") === 1L), "id", "text")
      assert(hits(root, 1L) == 1, "re-added id visible immediately")
      assert(hits(root, 2L) == 0, "unrelated tombstone must persist")
      Dedup.simhashIndexCompact(spark, root)
      assert(hits(root, 1L) == 1, "re-added id survives the fold")
      assert(hits(root, 2L) == 0, "deleted id stays folded away")
      assert(Dedup.simhashIndexHealth(spark, root)
        .select("deleted_pending").head().getLong(0) == 0L)
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("repair re-append is idempotent for ivf/semdedup: compaction " +
    "folds duplicate ids so a doubled append cannot occupy two top-k " +
    "slots or skew label counts") {
    def pt(dim: Int): Array[Float] = {
      val a = new Array[Float](4); a(dim) = 1.0f; a
    }
    val corpus = (0 until 3).map(c => (c.toLong, pt(c))).toDF("id", "v")
    val batch = Seq((3L, pt(3))).toDF("id", "v")
    val ivfDir = fresh(); val semDir = fresh()
    try {
      val ivf = ivfDir.getAbsolutePath
      Similarity.ivfBuild(corpus, ivf, nList = 2, kmeansMaxIter = 2)
      // the crashed-admission repair path: the same batch appended
      // twice (fleetIngestReconcile's re_append after a data-without-
      // log crash window)
      Similarity.ivfAppend(spark, ivf, batch, batchId = Some("b1"))
      Similarity.ivfAppend(spark, ivf, batch, batchId = Some("b1"))
      val dupped = Similarity.ivfQuery(spark, ivf,
        Seq((0L, pt(3))).toDF("qid", "qv"), k = 2, nProbe = 2)
        .filter(col("id") === 3L).count()
      assert(dupped == 2L, "pre-fold, the duplicate occupies two slots")
      Similarity.ivfCompact(spark, ivf)
      val folded = Similarity.ivfQuery(spark, ivf,
        Seq((0L, pt(3))).toDF("qid", "qv"), k = 2, nProbe = 2)
        .filter(col("id") === 3L).count()
      assert(folded == 1L, "compaction must fold the duplicate id")

      val sem = semDir.getAbsolutePath
      val vecs = (0 until 4).map(i =>
        (i.toLong, pt(i % 2).map(_.toDouble).toSeq)).toDF("id", "vec")
      val (labels, cents) = Clustering.kmeansWithCentroids(
        vecs, "id", "vec", k = 2, iterations = 2)
      Clustering.semDedupStateSave(spark, sem, labels, "id", cents)
      Clustering.releasePairs(labels)
      val semBatch = Seq((9L, pt(0).map(_.toDouble).toSeq))
        .toDF("id", "vec")
      // the repair/replay flow always carries a batchId — the repeated
      // id in the raw ingest log IS the evidence the compaction's
      // duplicate-row fold is gated on (IngestLog.hasReplayEvidence)
      Clustering.semDedupStateAppend(spark, sem, semBatch, "id", "vec",
        batchId = Some("b1"))
      Clustering.semDedupStateAppend(spark, sem, semBatch, "id", "vec",
        batchId = Some("b1"))
      Clustering.semDedupStateCompact(spark, sem)
      assert(spark.read.parquet(
        Manifest.snapshot(spark, sem).path("labels"))
        .filter(col("id") === 9L).count() == 1L,
        "semdedup compaction must fold the duplicate label row")
    } finally {
      graft.util.TempDirs.deleteRecursively(ivfDir)
      graft.util.TempDirs.deleteRecursively(semDir)
    }
  }

  test("sharer-safe fleetDelete: erasing one copy of a shared text " +
    "keeps duplicate detection alive for the surviving copy") {
    val shared = "pack my box with five dozen liquor jugs"
    val v1 = Seq(0L -> shared, 1L -> shared,
      2L -> "the quick brown fox jumps over the lazy dog")
      .toDF("id", "text")
    val survivors = v1.filter(col("id") =!= 1L)
    val doomed = v1.filter(col("id") === 1L)
    val probe = Seq(9L -> shared).toDF("id", "text")
    val dir = fresh()
    try {
      val root = dir.getAbsolutePath
      Dedup.exactIndexBuild(v1, root, "id", "text")
      val report = Similarity.fleetDelete(spark, Seq(root), doomed,
        "id", textCol = Some("text"), survivors = Some(survivors))
      assert(report.select("status").head().getString(0) == "executed")
      // the hash is shared with live doc 0 — it must NOT be tombstoned
      assert(Dedup.exactIndexProbe(spark, root, probe, "id", "text")
        .select("is_dup").head().getBoolean(0),
        "surviving sharer must keep probing as a duplicate")
      Dedup.exactIndexCompact(spark, root)
      assert(Dedup.exactIndexProbe(spark, root, probe, "id", "text")
        .select("is_dup").head().getBoolean(0),
        "...including after the fold")
      // control: WITHOUT survivors the raw key-level delete silences it
      Similarity.fleetDelete(spark, Seq(root), doomed, "id",
        textCol = Some("text"))
      assert(!Dedup.exactIndexProbe(spark, root, probe, "id", "text")
        .select("is_dup").head().getBoolean(0))
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("decontam retraction is executable: fleetDelete with the " +
    "remaining suites rebuilds the shingle set — retiree-unique " +
    "shingles vanish, shared shingles survive") {
    val keep = Seq(0L -> "alpha beta gamma delta epsilon zeta")
      .toDF("id", "text")
    // the retired suite shares its first 3-gram window with the kept
    // one and contributes unique shingles after it
    val retired = Seq(1L -> "alpha beta gamma omicron sigma tau")
      .toDF("id", "text")
    val dir = fresh()
    try {
      val root = dir.getAbsolutePath
      Decontamination.decontamIndexBuild(keep.unionByName(retired),
        root, "text", n = 3)
      val report = Similarity.fleetDelete(spark, Seq(root), retired,
        "id", textCol = Some("text"), decontamRemaining = Some(keep))
      assert(report.select("family", "status").head() ===
        org.apache.spark.sql.Row("decontam", "executed"))
      def contaminated(doc: String): Boolean =
        Decontamination.decontamIndexReport(spark, root,
          Seq(9L -> doc).toDF("id", "text"), "id", "text")
          .select("is_contaminated").head().getBoolean(0)
      assert(contaminated("alpha beta gamma"),
        "shingles a remaining suite claims must survive the rebuild")
      assert(!contaminated("omicron sigma tau"),
        "the retiree's unique shingles must be gone")
      // width stays pinned across the rebuild
      assert(Decontamination.decontamIndexN(spark, root) == 3)
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("fleetEraseAudit: physical-absence evidence goes complete only " +
    "after delete AND compaction; a missed family stays flagged") {
    val texts = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "pack my box with five dozen liquor jugs")
    val docs = texts.toDF("id", "text")
    val doomed = docs.filter(col("id") === 1L)
    val exDir = fresh(); val shDir = fresh()
    try {
      val ex = exDir.getAbsolutePath; val sh = shDir.getAbsolutePath
      Dedup.exactIndexBuild(docs, ex, "id", "text")
      Dedup.simhashIndexBuild(docs, sh, "id", "text")
      def audit() = Similarity.fleetEraseAudit(spark, Seq(ex, sh),
        doomed, "id", textCol = Some("text"))
        .select("family", "keys_live", "deleted_pending", "complete")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
      val before = audit()
      assert(before("exact") == ((1L, 0L, false)) &&
        before("simhash") == ((1L, 0L, false)),
        s"pre-delete the key is physically live: $before")
      Similarity.fleetDelete(spark, Seq(ex, sh), doomed, "id",
        textCol = Some("text"))
      val pending = audit()
      assert(pending("exact") == ((1L, 1L, false)) &&
        pending("simhash") == ((1L, 1L, false)),
        s"tombstoned-but-unfolded is NOT complete: $pending")
      // fold only the exact family: the audit must name the laggard
      Dedup.exactIndexCompact(spark, ex)
      val half = audit()
      assert(half("exact") == ((0L, 0L, true)), s"$half")
      assert(!half("simhash")._3, "unfolded family stays incomplete")
      Dedup.simhashIndexCompact(spark, sh)
      val done = audit()
      assert(done.values.forall(v => v._1 == 0L && v._3),
        s"post-fold every family is physically clean: $done")
    } finally {
      graft.util.TempDirs.deleteRecursively(exDir)
      graft.util.TempDirs.deleteRecursively(shDir)
    }
  }

  test("fleet verbs at parallelism > 1 produce the sequential report " +
    "and state: disjoint writer-lock domains never contend") {
    val texts = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "pack my box with five dozen liquor jugs")
    val docs = texts.toDF("id", "text")
    val doomed = docs.filter(col("id") === 1L)
    def mk(): (Seq[java.io.File], Seq[String]) = {
      val fs = Seq(fresh(), fresh(), fresh())
      val Seq(ex, mh, sh) = fs.map(_.getAbsolutePath)
      Dedup.exactIndexBuild(docs, ex, "id", "text")
      Dedup.minhashIndexBuild(docs, mh, "id", "text")
      Dedup.simhashIndexBuild(docs, sh, "id", "text")
      (fs, Seq(ex, mh, sh))
    }
    val (fSeq, seqDirs) = mk(); val (fPar, parDirs) = mk()
    try {
      def rep(dirs: Seq[String], par: Int) =
        Similarity.fleetDelete(spark, dirs, doomed, "id",
          textCol = Some("text"), parallelism = par)
          .select("family", "status").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(rep(seqDirs, 1) == rep(parDirs, 4),
        "parallel fleetDelete must produce the sequential report")
      def pending(dirs: Seq[String]) =
        Similarity.fleetEraseAudit(spark, dirs, doomed, "id",
          Some("text")).select("family", "deleted_pending").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(pending(seqDirs) == pending(parDirs), "same state too")
      // ...and the apply half, over a compact-everything plan
      import spark.implicits._
      def applyRep(dirs: Seq[String], par: Int) =
        Similarity.fleetMaintenanceApply(spark,
          dirs.map(d => (d, "compact")).toDF("dir", "action"),
          parallelism = par)
          .select("family", "action", "status").collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2)))
          .toSeq
      assert(applyRep(seqDirs, 1) == applyRep(parDirs, 4))
      assert(pending(seqDirs).values.forall(_ == 0L))
    } finally (fSeq ++ fPar)
      .foreach(graft.util.TempDirs.deleteRecursively)
  }

  test("fleetHealth sniffs every family and unions one tagged row per " +
    "index; an unrecognized dir degrades to an unknown row, not a crash") {
    val docs = Seq(0L -> "alpha beta gamma delta epsilon")
      .toDF("id", "text")
    val exDir = fresh(); val shDir = fresh(); val dcDir = fresh()
    val fnDir = fresh(); val unDir = fresh()
    try {
      val Seq(ex, sh, dc, fn, un) =
        Seq(exDir, shDir, dcDir, fnDir, unDir).map(_.getAbsolutePath)
      Dedup.exactIndexBuild(docs, ex, "id", "text")
      Dedup.simhashIndexBuild(docs, sh, "id", "text")
      Decontamination.decontamIndexBuild(docs, dc, "text", n = 3)
      CorpusPipeline.admissionFunnelAppend(spark, fn, "2024-01-01",
        Seq(("s1", 1L, 0L)).toDF("source", "n_docs", "n_neardup"))
      val rows = Similarity.fleetHealth(spark, Seq(ex, sh, dc, fn, un))
        .select("family", "dir").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rows == Map("exact" -> ex, "simhash" -> sh,
        "decontam" -> dc, "funnel" -> fn, "unknown" -> un))
      // ...and the planner consumes the mixed union as-is (null
      // columns never trigger): everything fresh plans none
      val actions = Similarity.indexMaintenancePlan(
        Similarity.fleetHealth(spark, Seq(ex, sh, dc, fn, un)),
        recallFloor = 0.0, maxFilesPerListCeiling = Long.MaxValue)
        .select("family", "action").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(actions.values.forall(_ == "none"), s"$actions")
    } finally Seq(exDir, shDir, dcDir, fnDir, unDir)
      .foreach(graft.util.TempDirs.deleteRecursively)
  }

  test("snapshotAt pins a point-in-time mapping across one publish " +
    "(the grace window) and throws once the pin outlives it") {
    val doc = Seq(0L -> "aa bb cc").toDF("id", "text")
    val dir = fresh()
    try {
      val root = dir.getAbsolutePath
      Dedup.exactIndexBuild(doc, root, "id", "text")
      Dedup.exactIndexCompact(spark, root) // publish v1 (1 hash)
      val pinned = Manifest.snapshotAt(spark, root, 1)
      // a REWRITE flips mid-read: an erase-everything compaction
      // publishes v2 with zero rows, but the pinned mapping still
      // resolves v1's untouched file set (grace retention keeps v1's
      // physical dirs through exactly one later publish) — the
      // read-during-flip interleaving a long probe relies on. (Note
      // the pin isolates against REWRITES; plain appends land
      // fragments in the live physical dir shared by both versions,
      // the log-structured contract.)
      Dedup.exactIndexDelete(spark, root, doc, "id", "text")
      Dedup.exactIndexCompact(spark, root) // publish v2 (folded empty)
      assert(Manifest.snapshot(spark, root).version >= 2)
      assert(spark.read.parquet(
        Manifest.snapshot(spark, root).path("hashes")).count() == 0L)
      assert(spark.read.parquet(pinned.path("hashes")).count() == 1L,
        "the pinned version reads its own pre-rewrite file set")
      assert(Manifest.snapshotAt(spark, root, 1).version == 1,
        "one publish after the pin, v1 is still resolvable")
      Dedup.exactIndexCompact(spark, root) // publish v3 — v1 GC'd
      assertThrows[IllegalStateException] {
        Manifest.snapshotAt(spark, root, 1)
      }
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("funnel history: compaction folds one-file-per-day fragments " +
    "behind a manifest flip; souring handles zero-doc days and gap " +
    "days without stretching the window") {
    val dir = fresh()
    try {
      val root = dir.getAbsolutePath
      def day(d: String, nDocs: Long, nNear: Long): Unit =
        CorpusPipeline.admissionFunnelAppend(spark, root, d,
          Seq(("s1", nDocs, nNear, nDocs - nNear))
            .toDF("source", "n_docs", "n_neardup", "n_accepted"))
      day("2024-01-01", 4L, 0L)
      day("2024-01-02", 0L, 0L) // an empty batch day
      day("2024-01-10", 4L, 2L) // after a 7-day gap
      val hBefore = CorpusPipeline.admissionFunnelHealth(spark, root)
      assert(hBefore.select("n_fragments").head().getLong(0) >= 3L)
      CorpusPipeline.admissionFunnelCompact(spark, root)
      val hAfter = CorpusPipeline.admissionFunnelHealth(spark, root)
      assert(hAfter.select("n_fragments").head().getLong(0) == 1L)
      assert(hAfter.select("total_rows").head().getLong(0) == 3L)
      val souring = CorpusPipeline.souringSources(spark, root,
        window = 7, ratioCeiling = 2.0)
        .orderBy("day").collect()
      // zero-doc day: rate NULL, souring pinned false (never null)
      val empty = souring(1)
      assert(empty.isNullAt(empty.fieldIndex("rate")))
      assert(!empty.getBoolean(empty.fieldIndex("souring")))
      // day 10 sits 8-9 calendar days after both prior rows: a
      // calendar-ranged window has NO trailing evidence (a row-ranged
      // one would have stretched back and fired on 0.5 > 2×0)
      val gapped = souring(2)
      assert(gapped.isNullAt(gapped.fieldIndex("trailing_rate")),
        "gap days must not stretch the trailing window")
      assert(!gapped.getBoolean(gapped.fieldIndex("souring")))
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("compaction dedup is GATED on replay evidence and FULL-ROW: " +
    "no repeated batch id → straight rewrite (divergent same-id rows " +
    "untouched); replayed batch → identical rows fold while divergent " +
    "same-id rows still survive loudly") {
    def pt(dim: Int): Array[Float] = {
      val a = new Array[Float](4); a(dim) = 1.0f; a
    }
    val corpus = (0 until 3).map(c => (c.toLong, pt(c))).toDF("id", "v")
    val vA = Seq((5L, pt(3))).toDF("id", "v")
    val vB = Seq((5L, pt(0))).toDF("id", "v") // same id, DIFFERENT vector
    val dir = fresh()
    try {
      val root = dir.getAbsolutePath
      Similarity.ivfBuild(corpus, root, nList = 2, kmeansMaxIter = 2)
      Similarity.ivfAppend(spark, root, vA, batchId = Some("bA"))
      Similarity.ivfAppend(spark, root, vB, batchId = Some("bB"))
      def id5Rows(): Long = spark.read.parquet(
        Manifest.snapshot(spark, root).path("postings"))
        .filter(col("id") === 5L).count()
      assert(id5Rows() == 2L)
      // distinct batch ids = no replay evidence → the compaction is a
      // straight rewrite: BOTH divergent same-id rows survive (a by-id
      // dedup would drop one nondeterministically — silent data loss)
      Similarity.ivfCompact(spark, root)
      assert(id5Rows() == 2L,
        "no-evidence compaction must not fold divergent same-id rows")
      // a replayed batch (same id logged again — the repair/retry
      // shape) flips the evidence: identical rows fold, the divergent
      // pair STILL survives (full-row distinct, not by-id)
      Similarity.ivfAppend(spark, root, vA, batchId = Some("bA"))
      assert(id5Rows() == 3L)
      Similarity.ivfCompact(spark, root)
      assert(id5Rows() == 2L,
        "evidence-gated fold: identical replays fold, divergent rows " +
          "both survive")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("a folded-empty tombstone table leaves the manifest on the " +
    "SECOND fold: the snapshot shrinks and probes stay plan-free") {
    val docs = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "pack my box with five dozen liquor jugs").toDF("id", "text")
    val dir = fresh()
    try {
      val root = dir.getAbsolutePath
      Dedup.exactIndexBuild(docs, root, "id", "text")
      Dedup.exactIndexDelete(spark, root,
        docs.filter(col("id") === 1L), "id", "text")
      // fold 1: the pending key folds, the table republishes EMPTY
      // with the marker — mapping still present
      Dedup.exactIndexCompact(spark, root)
      assert(Manifest.snapshot(spark, root).map.contains("tombstones"))
      assert(Dedup.exactIndexHealth(spark, root)
        .select("deleted_pending").head().getLong(0) == 0L)
      // fold 2: nothing pending, marker present → the mapping is
      // DROPPED from the published snapshot
      Dedup.exactIndexCompact(spark, root)
      val snap = Manifest.snapshot(spark, root)
      assert(!snap.map.contains("tombstones"),
        "second fold must drop the folded-empty tombstone mapping")
      // probes stay plan-free AND correct: the surviving row still
      // probes as a duplicate, the folded one stays gone
      def isDup(text: String): Boolean =
        Dedup.exactIndexProbe(spark, root,
          Seq(9L -> text).toDF("id", "text"), "id", "text")
          .select("is_dup").head().getBoolean(0)
      assert(isDup("the quick brown fox jumps over the lazy dog"))
      assert(!isDup("pack my box with five dozen liquor jugs"))
      // and a LATER delete simply recreates the table at the default
      // path — the lifecycle keeps working after the drop
      Dedup.exactIndexDelete(spark, root,
        docs.filter(col("id") === 0L), "id", "text")
      assert(!isDup("the quick brown fox jumps over the lazy dog"))
      assert(Dedup.exactIndexHealth(spark, root)
        .select("deleted_pending").head().getLong(0) == 1L)
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("fleet verbs: empty dirs fail fast with a clear message; " +
    "duplicate dirs in a parallel apply run sequentially in one unit " +
    "instead of racing the writer lock") {
    val docs = Seq(0L -> "the quick brown fox jumps over the lazy dog")
      .toDF("id", "text")
    assertThrows[IllegalArgumentException] {
      Similarity.fleetHealth(spark, Seq.empty)
    }
    assertThrows[IllegalArgumentException] {
      Similarity.fleetEraseAudit(spark, Seq.empty, docs, "id")
    }
    val dir = fresh()
    try {
      val root = dir.getAbsolutePath
      Dedup.exactIndexBuild(docs, root, "id", "text")
      import spark.implicits._
      // two actions for ONE dir at parallelism 4: grouped into one
      // sequential unit, both succeed (ungrouped, the loser would
      // report 'another writer holds ...' nondeterministically)
      val rep = Similarity.fleetMaintenanceApply(spark,
        Seq((root, "compact"), (root, "compact")).toDF("dir", "action"),
        parallelism = 4)
        .select("status").collect().map(_.getString(0)).toSeq
      assert(rep == Seq("executed", "executed"), s"$rep")
      // same for fleetDelete with a duplicated dir
      val dRep = Similarity.fleetDelete(spark, Seq(root, root), docs,
        "id", textCol = Some("text"), parallelism = 4)
        .select("status").collect().map(_.getString(0)).toSeq
      assert(dRep == Seq("executed", "executed"), s"$dRep")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("fleetMap timeout: an overrunning unit reports failed while " +
    "completed units keep their results (per-row isolation survives " +
    "the deadline)") {
    import scala.concurrent.duration._
    val docs = Seq(0L -> "the quick brown fox jumps over the lazy dog")
      .toDF("id", "text")
    val fast = fresh(); val slow = fresh()
    try {
      val f = fast.getAbsolutePath; val s = slow.getAbsolutePath
      Dedup.exactIndexBuild(docs, f, "id", "text")
      // the slow dir holds a foreign writer lock: its delete will
      // block... no — lock contention throws immediately. Instead make
      // the slow unit slow by pointing at a dir whose sniff succeeds
      // but whose delete sleeps: simplest deterministic overrun is a
      // zero timeout with parallelism > 1 — every unit that has not
      // completed INSTANTLY reports the timeout row, and re-running
      // with Duration.Inf completes normally (state undamaged).
      Dedup.exactIndexBuild(docs, s, "id", "text")
      val rep = Similarity.fleetDelete(spark, Seq(f, s), docs, "id",
        textCol = Some("text"), parallelism = 2,
        timeout = Duration.Zero)
        .select("status", "detail").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(rep.size == 2)
      assert(rep.forall { case (st, dt) =>
        st == "executed" || (st == "failed" && dt.contains("timed out"))
      }, s"$rep")
      // the timed-out units' background threads finish eventually;
      // wait for the locks to clear, then a full-deadline re-run
      // executes everywhere — the fleet was never corrupted
      def retryRun(): Seq[String] =
        Similarity.fleetDelete(spark, Seq(f, s), docs, "id",
          textCol = Some("text"), parallelism = 2)
          .select("status").collect().map(_.getString(0)).toSeq
      var rep2 = retryRun()
      var waited = 0
      while (rep2 != Seq("executed", "executed") && waited < 60000) {
        Thread.sleep(500); waited += 500; rep2 = retryRun()
      }
      assert(rep2 == Seq("executed", "executed"), s"$rep2")
    } finally {
      graft.util.TempDirs.deleteRecursively(fast)
      graft.util.TempDirs.deleteRecursively(slow)
    }
  }

  test("an empty retraction writes no tombstone table: fleetDelete of " +
    "an empty id frame leaves every index plan-free and a folded " +
    "marker in place") {
    def pt(dim: Int): Array[Float] = {
      val a = new Array[Float](4); a(dim) = 1.0f; a
    }
    val docs = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "pack my box with five dozen liquor jugs").toDF("id", "text")
    val vecs = (0 until 3).map(c => (c.toLong, pt(c))).toDF("id", "v")
    graft.util.TempDirs.using("empty_mh_", "empty_sh_", "empty_ivf_") {
      case dirs @ Seq(mh, sh, ivf) =>
      Dedup.minhashIndexBuild(docs, mh, "id", "text")
      Dedup.simhashIndexBuild(docs, sh, "id", "text")
      Similarity.ivfBuild(vecs, ivf, nList = 2, kmeansMaxIter = 2)
      // one folded delete: the MinHash tombstone table republishes
      // empty, carrying the folded marker
      Dedup.minhashIndexDelete(spark, mh, docs.filter(col("id") === 1L))
      Dedup.minhashIndexCompact(spark, mh)
      def marker = new java.io.File(
        Manifest.snapshot(spark, mh).path("tombstones"), "_empty")
      assert(marker.exists())
      // a corpus refresh whose diff removed nothing
      val report = Similarity.fleetDelete(spark, dirs,
        docs.filter(lit(false)), "id")
        .select("status").as[String].collect().toSeq
      assert(report == Seq("executed", "executed", "executed"), report)
      dirs.foreach { d =>
        assert(Tombstones.readIfAny(spark, Manifest.snapshot(spark, d))
          .isEmpty, s"$d: an empty retraction left a tombstone table")
        assert(!new java.io.File(d).list().exists(_.startsWith("_tomb")),
          s"$d: a retraction left its temp directory")
      }
      assert(marker.exists(),
        "an empty retraction must not clear the folded marker")
    }
  }

  test("lifecycle contract, flat families: build → the same batch " +
    "appended twice under one batch id → delete → compact leaves " +
    "total_rows = distinct rows, no pending debt, and the deleted doc " +
    "silent in the probe") {
    val docs = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "pack my box with five dozen liquor jugs",
      2L -> "how vexingly quick daft zebras jump").toDF("id", "text")
    // the vector families index one vector per doc
    val vecs = Seq(
      0L -> Seq(1.0, 0.0, 0.0, 0.5),
      1L -> Seq(0.0, 1.0, 0.5, 0.0),
      2L -> Seq(0.5, 0.0, 1.0, 0.0)).toDF("id", "v")
    val rows = Map[Kind, DataFrame](Texts -> docs, Vectors -> vecs,
      Embeddings -> vecs)
    // each probe re-sends the doomed doc 1 under a fresh id
    val doomedV = vecs.filter(col("id") === 1L)
    val planted = Map[Kind, Planted](
      Texts -> Planted(docs.filter(col("id") === 1L)
        .select((col("id") + 90L).as("id"), col("text")), 1L, docs),
      Vectors -> Planted(doomedV.select((col("id") + 90L).as("qid"),
        col("v").as("qv")), 1L, vecs),
      Embeddings -> Planted(doomedV.select((col("id") + 90L).as("id"),
        col("v")), 1L, vecs))
    // Each row: the family, the health column its `total_rows` must
    // equal once compacted (None where the health row has no distinct
    // count) and the live row count left after the fold.
    val families = Seq(
      (Exact(), Some("distinct_hashes"), 2L),
      (MinHash(), Some("distinct_rows"), 4L),
      (SimHash(), Some("distinct_rows"), 2L),
      // the list health row counts rows, not distinct ones
      (Ivf(nList = 2, kmeansMaxIter = 2, probeK = 3), None, 2L),
      (IvfPq(nList = 2, m = 2, nCodes = 2, kmeansMaxIter = 2), None, 2L),
      (SemDeDup(k = 2, vecCol = "v"), None, 2L))
    families.foreach { case (f, distinctCol, liveRows) =>
      val all = rows(f.kind)
      def hits(dir: String): Long = {
        val p = f.hits(spark, dir, planted(f.kind))
        val n = p.count()
        Clustering.releasePairs(p)
        n
      }
      graft.util.TempDirs.using(s"lifecycle_${f.name}_") { case Seq(dir) =>
        f.build(spark, all.filter(col("id") < 2L), dir)
        // the built dir sniffs back to the family's on-disk value, whose
        // name is the tag the fleet reports carry
        assert(IndexFamily.at(spark, Manifest.snapshot(spark, dir)) ==
          Some(f.index), s"${f.name}: sniffed")
        assert(Similarity.fleetHealth(spark, Seq(dir)).select("family")
          .head().getString(0) == f.index.name, s"${f.name}: fleet tag")
        val batch = all.filter(col("id") === 2L)
        f.append(spark, dir, batch, Some("b1"))
        f.append(spark, dir, batch, Some("b1"))
        assert(hits(dir) == 1L, s"${f.name}: the indexed doc must probe")
        distinctCol.foreach { c =>
          val replayed = f.health(spark, dir).head()
          assert(replayed.getAs[Long]("total_rows") >
            replayed.getAs[Long](c),
            s"${f.name}: the replayed append must leave duplicate rows")
        }
        f.delete(spark, dir, all.filter(col("id") === 1L))
        assert(hits(dir) == 0L, s"${f.name}: delete silences the probe")
        f.compact(spark, dir)
        val h = f.health(spark, dir).head()
        distinctCol.foreach(c => assert(
          h.getAs[Long]("total_rows") == h.getAs[Long](c), s"${f.name}: $h"))
        assert(h.getAs[Long]("total_rows") == liveRows, s"${f.name}: $h")
        assert(h.getAs[Long]("deleted_pending") == 0L, s"${f.name}: $h")
        assert(h.getAs[Long]("ingest_batches") == 1L, s"${f.name}: $h")
        assert(hits(dir) == 0L, s"${f.name}: the fold keeps it silent")
      }
    }
  }
}
