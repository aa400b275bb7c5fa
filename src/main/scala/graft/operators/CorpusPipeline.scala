package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus cleaning — the composition a training-data job
  * actually runs, chaining the individual operators: token-count floor,
  * language whitelist, then exact dedup keeping the lowest-id copy.
  *
  * Plan shape at 100 TB: the quality/language stage is pure codegen'd
  * projection+filter (no shuffle); dedup is one hash-aggregate on the
  * content hash plus a semi-join of survivors — two shuffles total,
  * both on well-distributed keys.
  */
object CorpusPipeline {

  def clean(docs: DataFrame, idCol: String, textCol: String,
            minTokens: Int, langs: Seq[String]): DataFrame = {
    // feeds both the keeper aggregate and the semi-join's left side —
    // materialize so tokenCount/langId don't run over the corpus twice
    val filtered = docs.select(col(idCol), col(textCol),
      TF.tokenCount(col(textCol)).as("n_tokens"),
      TF.langId(col(textCol)).as("lang_guess"))
      .filter(col("n_tokens") >= minTokens &&
        col("lang_guess").isInCollection(langs))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keepers = filtered
      .groupBy(md5(col(textCol)).as("_h"))
      .agg(min(col(idCol)).as("_keeper"))
      .select(col("_keeper"))
    filtered
      .join(keepers, filtered(idCol) === keepers("_keeper"), "left_semi")
      .select(col(idCol), col("n_tokens"), col("lang_guess"))
  }

  /** Admission verdicts for one batch of documents against PERSISTED
    * curation state — the kernel of [[streamingAdmission]] and the
    * order-independent core of the q249 daily-ingest gate. Four
    * verdicts per doc always, each depending only on the batch row and
    * the index files (NEVER on other batch rows, so the result is
    * invariant under any micro-batch slicing):
    *   - `n_tokens` quality floor;
    *   - `is_dup_exact`: content hash in the persisted
    *     [[Dedup.exactIndexBuild]] hash set;
    *   - `is_neardup`: J ≥ `threshold` against the persisted
    *     [[Dedup.minhashIndexBuild]] index (`base` supplies candidate
    *     text by id, the q236 contract);
    *   - `is_contaminated`: shingle overlap with the persisted
    *     [[Decontamination.decontamIndexBuild]] benchmark set.
    * Two OPTIONAL stages widen the kernel to the full seven-family
    * fleet the maintenance planner tends (without them the fleet
    * admission consults is narrower than the fleet it maintains —
    * the q260 gap):
    *   - `simhashDir`: `is_neardup_sim` — Hamming ≤ `maxHamming`
    *     against the persisted [[Dedup.simhashIndexBuild]] signatures
    *     (the boilerplate/reorder regime MinHash's shingle-Jaccard
    *     misses: a token-reordered copy has J ≈ 0 but IDENTICAL
    *     SimHash);
    *   - `semDedupDir` (+ `baseVecs`, `vecCol` on the batch):
    *     `is_neardup_sem` — cosine ≥ `tau` against the persisted
    *     [[Clustering.semDedupStateSave]] state (the semantic
    *     paraphrase regime no text fingerprint catches). Only
    *     batch-vs-INDEXED pairs count: intra-batch pairs are
    *     order-DEPENDENT and excluded, preserving the
    *     slicing-invariance contract.
    * `accepted` folds in exactly the stages that ran. Intra-batch
    * (same-day) dedup is deliberately NOT here — it is
    * order-DEPENDENT (min-id keeper) and belongs to the daily batch
    * compaction ([[Dedup.incrementalExact]] / q249), the same split
    * production pipelines make. */
  def admitBatch(spark: org.apache.spark.sql.SparkSession,
                 batch: DataFrame, exactDir: String, mhDir: String,
                 dcDir: String, base: DataFrame, idCol: String,
                 textCol: String, minTokens: Int = 5,
                 threshold: Double = 0.5,
                 simhashDir: Option[String] = None,
                 maxHamming: Int = 3,
                 semDedupDir: Option[String] = None,
                 baseVecs: Option[DataFrame] = None,
                 vecCol: String = "vec",
                 tau: Double = 0.95): DataFrame = {
    val exactFlag = Dedup.exactIndexProbe(spark, exactDir, batch,
      idCol, textCol)
      .withColumnRenamed("is_dup", "is_dup_exact")
    val nearIds = Dedup.minhashIndexProbe(spark, mhDir, batch, base,
      idCol, textCol, threshold)
      .select(col("delta_id").as(idCol)).distinct()
      .withColumn("_near", lit(true))
    val contam = Decontamination.decontamIndexReport(spark, dcDir,
      batch, idCol, textCol)
      .select(col(idCol), col("is_contaminated"))
    val simIds = simhashDir.map { sh =>
      Dedup.simhashIndexProbe(spark, sh, batch, idCol, textCol,
        maxHamming)
        .select(col("delta_id").as(idCol)).distinct()
        .withColumn("_sim", lit(true))
    }
    val semIds = semDedupDir.map { sd =>
      val bv = baseVecs.getOrElse(throw new IllegalArgumentException(
        "admitBatch: the SemDeDup stage needs baseVecs (vectors by " +
          "id for the indexed corpus) — the label state stores no " +
          "vectors"))
      val pairs = Clustering.semDedupIncrementalPersisted(spark, sd,
        bv, batch.select(col(idCol), col(vecCol)), idCol, vecCol, tau)
      semNearIds(spark, sd, batch, idCol, pairs)
    }
    verdictFrame(batch, idCol, textCol, minTokens, exactFlag, nearIds,
      contam, simIds, semIds)
  }

  /** [[admitBatch]]'s LAZY core for callers that consume the verdict
    * in exactly ONE downstream action (the streaming admission loop's
    * per-batch verdict write): the probe families compose into one
    * unexecuted plan — no per-family eager checkpoint jobs — and the
    * returned release() unpersists the probes' internal caches AFTER
    * the action has consumed the plan. `semState` optionally supplies
    * the SemDeDup (snapshot, centroids) resolved once for a read-only
    * scope ([[Clustering.semDedupProbeState]]) so a stream does not
    * pay one centroid-collect job per micro-batch. Verdict values are
    * identical to [[admitBatch]] — same plans, same kernels; only the
    * materialization points differ. */
  private[operators] def admitBatchLazy(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, exactDir: String, mhDir: String,
      dcDir: String, base: DataFrame, idCol: String,
      textCol: String, minTokens: Int, threshold: Double,
      simhashDir: Option[String], maxHamming: Int,
      semDedupDir: Option[String], baseVecs: Option[DataFrame],
      vecCol: String, tau: Double,
      semState: Option[(Manifest.Snapshot, Array[Array[Double]])] = None)
    : (DataFrame, () => Unit) = {
    val exactFlag = Dedup.exactIndexProbe(spark, exactDir, batch,
      idCol, textCol)
      .withColumnRenamed("is_dup", "is_dup_exact")
    val (nearPairs, nearHandles) = Dedup.probeLazy(
      IndexFamily.MinHash.layout(spark, mhDir), spark, mhDir, batch,
      Some(base), idCol, textCol, threshold, maxBucketSize = 10000)
    val nearIds = nearPairs
      .select(col("delta_id").as(idCol)).distinct()
      .withColumn("_near", lit(true))
    val contam = Decontamination.decontamIndexReport(spark, dcDir,
      batch, idCol, textCol)
      .select(col(idCol), col("is_contaminated"))
    val simLazy = simhashDir.map { sh =>
      val (pairs, handles) = Dedup.probeLazy(
        IndexFamily.SimHash.layout(spark, sh), spark, sh, batch, None, idCol,
        textCol, maxHamming, maxBucketSize = 10000)
      (pairs.select(col("delta_id").as(idCol)).distinct()
        .withColumn("_sim", lit(true)), handles)
    }
    val semLazy = semDedupDir.map { sd =>
      val bv = baseVecs.getOrElse(throw new IllegalArgumentException(
        "admitBatch: the SemDeDup stage needs baseVecs (vectors by " +
          "id for the indexed corpus) — the label state stores no " +
          "vectors"))
      val (pairs, handles) = Clustering.semDedupIncrementalPersistedLazy(
        spark, sd, bv, batch.select(col(idCol), col(vecCol)), idCol,
        vecCol, tau, maxCluster = 100000L, preloaded = semState)
      (semNearIds(spark, sd, batch, idCol, pairs), handles)
    }
    val verdict = verdictFrame(batch, idCol, textCol, minTokens,
      exactFlag, nearIds, contam, simLazy.map(_._1), semLazy.map(_._1))
    val handles = nearHandles ++ simLazy.toSeq.flatMap(_._2) ++
      semLazy.toSeq.flatMap(_._2)
    (verdict, () => handles.foreach(_.unpersist(false)))
  }

  /** The semantic stage's flagged-id frame over a pair table —
    * batch-vs-INDEXED membership classification shared by the eager
    * and lazy admission paths. */
  private def semNearIds(spark: org.apache.spark.sql.SparkSession,
                         sd: String, batch: DataFrame, idCol: String,
                         pairs: DataFrame): DataFrame = {
      // batch-vs-INDEXED only: a batch doc is flagged iff some pair
      // partner is PRESENT IN THE LABEL STATE — membership, not batch
      // id, classifies the ends, so a batch that re-admits an already-
      // indexed id (the tombstone-prune re-admission flow) still flags
      // real near-dups against that id instead of silently excluding
      // them as intra-batch. Pairs between two unindexed batch docs
      // are order-DEPENDENT and stay excluded (neither end is
      // indexed), preserving the slicing-invariance contract — a
      // doc's verdict is identical whether its indexed partner sits
      // in the same micro-batch or arrived yesterday.
      val indexed = Clustering.semDedupStateLiveIds(spark, sd)
      val bids = batch.select(col(idCol)).distinct()
      pairs.join(indexed.select(col("id").as("id_b")), Seq("id_b"),
          "left_semi")
        .select(col("id_a").as(idCol))
        .union(pairs.join(indexed.select(col("id").as("id_a")),
          Seq("id_a"), "left_semi")
          .select(col("id_b").as(idCol)))
        .join(bids, Seq(idCol), "left_semi")
        .distinct()
        .withColumn("_sem", lit(true))
    }

  /** Assemble the per-doc verdict row from the probe frames — shared
    * verbatim by the eager and lazy admission paths (identical
    * column set, flag coalescing and `accepted` fold). */
  private def verdictFrame(batch: DataFrame, idCol: String,
                           textCol: String, minTokens: Int,
                           exactFlag: DataFrame, nearIds: DataFrame,
                           contam: DataFrame, simIds: Option[DataFrame],
                           semIds: Option[DataFrame]): DataFrame = {
    val joined0 = batch
      .select(col(idCol), TF.tokenCount(col(textCol)).as("n_tokens"))
      .join(exactFlag, Seq(idCol))
      .join(nearIds, Seq(idCol), "left")
      .join(contam, Seq(idCol))
    val joined = Seq(simIds, semIds).flatten
      .foldLeft(joined0)((df, f) => df.join(f, Seq(idCol), "left"))
    val simFlag = simIds.map(_ => coalesce(col("_sim"), lit(false)))
    val semFlag = semIds.map(_ => coalesce(col("_sem"), lit(false)))
    val acceptedCol = (Seq(
      col("n_tokens") >= minTokens, !col("is_dup_exact"),
      !coalesce(col("_near"), lit(false)), !col("is_contaminated")) ++
      simFlag.map(!_) ++ semFlag.map(!_)).reduce(_ && _)
    joined.select(Seq(col(idCol), col("n_tokens"),
      col("is_dup_exact"),
      coalesce(col("_near"), lit(false)).as("is_neardup"),
      col("is_contaminated")) ++
      simFlag.map(_.as("is_neardup_sim")) ++
      semFlag.map(_.as("is_neardup_sem")) :+
      acceptedCol.as("accepted"): _*)
  }

  /** Cross-family INGEST RECONCILIATION — the atomicity answer for
    * multi-index admission. A daily ingest appends one accepted batch
    * to several index families, each under its own writer-lock domain;
    * a crash between appends leaves the families silently divergent (a
    * doc exact-indexed but not minhash-indexed passes every future
    * near-dup probe — nothing else detects that). Appends that pass a
    * `batchId` record it in their index's `ingest_log` (same locked
    * span as the data files); this diffs those batch-id sets across
    * the fleet and emits one repair row per (batch, family) gap:
    * re-append the batch from the verdict sink to that family. The
    * repair re-append is IDEMPOTENT for every family because every
    * family's compaction folds duplicate rows (exact/minhash/simhash
    * via distinct(), ivf/ivf_pq/semdedup via dropDuplicates("id") —
    * replayed appends produce identical rows under frozen
    * centroids/codebooks); the data-then-log write order means a
    * crash can only leave data WITHOUT its log row, so the worst
    * repair is a duplicate append the next compaction folds.
    *
    * `families` maps family name → index dir. Output: (batch_id,
    * family, dir, action='re_append'), empty when the fleet is
    * consistent. Cost: one tiny log read per family — the logs carry
    * one row per accepted batch, broadcast-class for years of daily
    * ingest. */
  def fleetIngestReconcile(spark: org.apache.spark.sql.SparkSession,
                           families: Map[String, String]): DataFrame = {
    import spark.implicits._
    require(families.nonEmpty, "fleetIngestReconcile: no families")
    val present = families.toSeq.map { case (fam, dir) =>
      IngestLog.read(spark, dir)
        .select(col("batch_id"), lit(fam).as("family"),
          lit(dir).as("dir"))
    }.reduce(_ unionByName _)
    val batches = present.select("batch_id").distinct()
    val fams = families.toSeq.toDF("family", "dir")
    batches.crossJoin(broadcast(fams))
      .join(present, Seq("batch_id", "family", "dir"), "left_anti")
      .select(col("batch_id"), col("family"), col("dir"),
        lit("re_append").as("action"))
  }

  /** EXECUTE the repairs [[fleetIngestReconcile]] emits — the apply
    * half of the crash-recovery loop (detection emitted (batch,
    * family, dir, re_append) rows; until r15 the re-append itself was
    * an operator's manual step, the same gap the decontam rebuild
    * closed for [[Similarity.fleetDelete]]). `batches` supplies each
    * flagged batch's ORIGINAL accepted rows by batch id (the verdict
    * sink a daily ingest already keeps); each gap row dispatches the
    * family's append WITH the batch id, so the repaired family logs
    * the batch in the same locked span and the next reconcile reads
    * clean. Safe to re-run: every family's compaction folds duplicate
    * rows, so a repair that itself crashes mid-way just leaves fewer
    * gaps for the next pass (at-least-once, convergent). Per-row
    * failure isolation as every fleet verb: a gap whose batch is
    * missing from `batches`, or whose family needs a column the batch
    * lacks, reports `skipped`/`failed` without aborting the fleet.
    * Returns one (batch_id, family, dir, status, detail) row per gap.
    * Column conventions: text families read (`idCol`, `textCol`),
    * vector families (`idCol`, `vecCol` — cast to the index's stored
    * schema by the append itself). */
  def fleetIngestRepair(spark: org.apache.spark.sql.SparkSession,
                        gaps: DataFrame,
                        batches: Map[String, DataFrame],
                        idCol: String = "id", textCol: String = "text",
                        vecCol: String = "v"): DataFrame = {
    import spark.implicits._
    val rows = gaps.select(col("batch_id").cast("string"),
      col("family").cast("string"), col("dir").cast("string"),
      col("action").cast("string")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSeq
    val report = rows.map { case (bid, family, dir, action) =>
      // a successful re-append leaves REPLAY EVIDENCE: an extra log
      // row for the batch id, so the raw log carries it twice and the
      // family's next compaction runs the duplicate-row fold the
      // repair's idempotence depends on ([[IngestLog
      // .hasReplayEvidence]] — the crash being repaired left data
      // WITHOUT a log row, so the re-append alone logs it only once)
      def run(f: => Unit): (String, String) =
        Similarity.attempt { f; IngestLog.recordReplay(spark, dir, bid) }
      val (status, detail) =
        if (action != "re_append")
          ("skipped", s"unknown action '$action'")
        else batches.get(bid) match {
          case None =>
            ("skipped", s"batch '$bid' not supplied — fetch it from " +
              "the verdict sink and re-run")
          case Some(batch) =>
            IndexFamily.named(family).filter(_.docKeyed) match {
              case Some(f) => run(f.append(spark, dir, IndexFamily.Batch(
                batch, idCol, textCol, vecCol, Some(bid))))
              case None =>
                ("skipped", s"no re_append operator for '$family'")
            }
        }
      (bid, family, dir, status, detail)
    }
    report.toDF("batch_id", "family", "dir", "status", "detail")
  }

  /** Append one day's ADMISSION FUNNEL rows (the q252 shape — per-
    * source verdict counts for one batch) to a persisted ops history
    * keyed by (day, source) — the time axis the in-memory funnel
    * lacks: "source X started souring on Tuesday" is only askable if
    * someone kept Tuesday. Same writer contract as every persisted
    * table in this package ([[Manifest.withLock]], table resolved
    * through the snapshot inside it). The history is tiny (days ×
    * sources rows), so append fragments never matter. */
  def admissionFunnelAppend(spark: org.apache.spark.sql.SparkSession,
                            dir: String, day: String,
                            funnel: DataFrame): Unit =
    Manifest.withLock(spark, dir) {
      val snap = Manifest.snapshot(spark, dir)
      funnel.withColumn("day", lit(day))
        .coalesce(1).write.mode("append").parquet(snap.path("funnel"))
    }

  /** The persisted funnel history (one row per (day, source)). */
  def admissionFunnelHistory(spark: org.apache.spark.sql.SparkSession,
                             dir: String): DataFrame =
    Manifest.read(spark, Manifest.snapshot(spark, dir).path("funnel"))

  /** Fold the funnel history's one-file-per-day append fragments into
    * one coherent file set behind a [[Manifest]] flip — the same
    * fragment ceiling every other persisted table in this package has
    * ([[Dedup.exactIndexCompact]] and siblings): the table is tiny
    * (days × sources rows) but a years-long daily append is thousands
    * of files, and every [[souringSources]] read pays the listing +
    * open cost. Rewritten range-clustered on (day, source) — the
    * detector's partition/order keys. Lock held across the whole
    * read→rewrite→flip span like every compactor here. */
  def admissionFunnelCompact(spark: org.apache.spark.sql.SparkSession,
                             dir: String): Unit =
    // never distinct: the history keeps every appended row
    Lifecycle.compactFlat(spark, dir, "funnel", Seq("day", "source"),
      Lifecycle.Dedupe.Never, Lifecycle.Parts.Fixed(1))

  /** Health row of the persisted funnel history — the fleet-table
    * surface for this table's fragment debt (every persisted table
    * has one; this was the gap): `n_fragments` rising at one per
    * appended day says [[admissionFunnelCompact]] is due. One bounded
    * aggregate (the table is days × sources rows) plus one FS
    * listing. */
  def admissionFunnelHealth(spark: org.apache.spark.sql.SparkSession,
                            dir: String): DataFrame = {
    val snap = Manifest.snapshot(spark, dir)
    Lifecycle.healthRow(spark, snap, "funnel",
      Manifest.read(spark, snap.path("funnel")))(
      count(lit(1)).as("total_rows"),
      count_distinct(col("day")).as("n_days"),
      count_distinct(col("source")).as("n_sources"))
  }

  /** SOURING-SOURCE detector over the persisted funnel history: for
    * every (day, source), the rate of `metricCol` per admitted doc is
    * compared against that source's TRAILING mean over the prior
    * `window` days (the q170 seasonal-naive shape — self-relative, so
    * a source that is always 30% near-dup does not alert, a source
    * that jumps from 5% to 40% does). `souring` fires when the rate
    * exceeds `ratioCeiling ×` the trailing mean AND clears `minRate`
    * (suppressing flags on noise around zero). Day-1 rows (no
    * trailing history) never fire, and a zero-doc day's rate is NULL
    * with `souring` pinned false (never null) — an empty batch is
    * not an alert. The window is CALENDAR-day ranged (`rangeBetween`
    * over the day ordinal), so "the trailing `window` days" means
    * exactly that: gap days shrink the evidence rather than
    * stretching the window back to whatever rows exist, and a
    * re-appended (day, source) row cannot displace older days out of
    * it. One window pass over a tiny history table — the alert
    * surface an operator actually pages on. */
  def souringSources(spark: org.apache.spark.sql.SparkSession,
                     dir: String, metricCol: String = "n_neardup",
                     window: Int = 7, ratioCeiling: Double = 2.0,
                     minRate: Double = 0.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("_day_ord"))
      .rangeBetween(-window, -1)
    admissionFunnelHistory(spark, dir)
      // calendar ordinal, not row position: string-ordered rows make
      // "trailing N days" silently mean "prior N rows" (gap days
      // stretch the window, duplicate appends shrink it). A day that
      // does not parse as a date fails LOUDLY — silently-null
      // ordinals would disable every alert
      .withColumn("_day_ord", when(to_date(col("day")).isNull,
          raise_error(concat(lit("souringSources: day is not a " +
            "parseable date: "), col("day"))).cast("int"))
        .otherwise(
          datediff(to_date(col("day")), to_date(lit("1970-01-01")))))
      .withColumn("rate",
        when(col("n_docs") > 0,
          col(metricCol).cast("double") / col("n_docs")))
      .withColumn("trailing_rate", avg(col("rate")).over(w))
      .withColumn("souring",
        coalesce(
          col("trailing_rate").isNotNull &&
            col("rate") > lit(ratioCeiling) * col("trailing_rate") &&
            col("rate") >= lit(minRate),
          lit(false)))
      .select(col("day"), col("source"), col("n_docs"),
        col(metricCol), col("rate"), col("trailing_rate"),
        col("souring"))
  }

  /** CONTINUOUS admission: every micro-batch runs [[admitBatch]]
    * against the persisted indexes and appends its verdict rows to
    * `outDir` — the streaming face of the daily-ingest pipeline, with
    * the same verdict-per-doc schema as the q249 batch gate. Because
    * every [[admitBatch]] verdict is independent of micro-batch
    * slicing, the accumulated output CONVERGES to the one-shot batch
    * result whatever the trigger cadence (the spec/gate contract).
    * The optional SimHash and SemDeDup stages pass straight through to
    * the kernel, so a streaming pipeline consults the SAME seven
    * families batch admission does (q260/q262) — both stages keep the
    * slicing-invariance contract (SimHash probes index files only;
    * the semantic stage classifies pair ends by label-state
    * MEMBERSHIP, so a doc's verdict is identical whether its indexed
    * partner sits in the same micro-batch or arrived earlier —
    * intra-batch pairs between unindexed docs are excluded in both
    * the one-shot and every slicing). Delivery is foreachBatch's
    * at-least-once: a replayed batch appends duplicate verdict ROWS
    * (identical values — dedupe by id downstream if exact-once is
    * needed). The indexes are only READ here; accepted-batch appends
    * (exact/minhash) stay explicit daily operations so admission
    * never races its own writers. */
  def streamingAdmission(stream: DataFrame, exactDir: String,
                         mhDir: String, dcDir: String, base: DataFrame,
                         outDir: String, checkpoint: String,
                         idCol: String = "doc_id",
                         textCol: String = "text", minTokens: Int = 5,
                         threshold: Double = 0.5,
                         simhashDir: Option[String] = None,
                         maxHamming: Int = 3,
                         semDedupDir: Option[String] = None,
                         baseVecs: Option[DataFrame] = None,
                         vecCol: String = "vec",
                         tau: Double = 0.95)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    // the SemDeDup (snapshot, centroids) pair is resolved ONCE here:
    // the indexes are read-only for the stream's lifetime (accepted-
    // batch appends are explicit daily operations — the contract
    // above), so re-collecting the frozen centroids every micro-batch
    // was one fixed job per batch buying nothing. The per-batch
    // verdict composes through [[admitBatchLazy]] into a single
    // unexecuted plan, so each micro-batch runs ONE verdict-write job
    // instead of one eager checkpoint job per probe family — verdict
    // values are identical (same kernels, same slicing invariance).
    val spark = stream.sparkSession
    val semState = semDedupDir.map(sd =>
      Clustering.semDedupProbeState(spark, sd))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val (verdict, release) = admitBatchLazy(batch.sparkSession,
            batch, exactDir, mhDir, dcDir, base, idCol, textCol,
            minTokens, threshold, simhashDir, maxHamming, semDedupDir,
            baseVecs, vecCol, tau, semState = semState)
          try verdict.write.mode("append").parquet(outDir)
          finally release()
        }
      }
      .start()
  }
}
