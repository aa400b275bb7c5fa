package graft.operators

import graft.functions.{TextFunctions => TF, VectorOps => V}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus deduplication at training-data scale.
  *
  * Five strategies, cheapest first. All candidate generation is
  * bucket-based (groupBy / equi-join on a hash), never an unbucketed
  * cross-join — the difference between O(n) + shuffle and O(n²) at 100 TB.
  */
object Dedup {

  /** Exact dedup: one hash-aggregate over md5(text). Keeps the minimum id
    * per content hash and reports the multiplicity. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup: which docs of a `delta` batch are new?
    * A doc is dropped if its content hash already exists in the base
    * corpus (join against the base's hash set — at scale that set is a
    * stored table, not a rescan) or if an earlier delta doc (lower id)
    * has the same hash. The refresh-time path: the full-corpus
    * [[exact]] pass runs once, then every ingest batch runs this. */
  def incrementalExact(delta: DataFrame, base: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val baseHashes = base.select(md5(col(textCol)).as("content_hash"))
      .distinct()
    val d = delta.select(col(idCol), md5(col(textCol)).as("content_hash"))
    val newInDelta = d.join(baseHashes, Seq("content_hash"), "left_anti")
    val keeper = newInDelta.groupBy("content_hash")
      .agg(min(col(idCol)).as("_keep"))
    delta.select(col(idCol), md5(col(textCol)).as("content_hash"))
      .join(keeper, Seq("content_hash"), "left")
      .select(col(idCol),
        (col("_keep").isNotNull && col("_keep") === col(idCol))
          .as("is_new"))
  }

  // ---- persisted exact-hash index ---------------------------------
  //
  // [[incrementalExact]]'s own contract says it: "at scale that set is
  // a stored table, not a rescan". This is that table — the seventh
  // persisted family, and the cheapest: one 32-char md5 per distinct
  // document text. Same operational contract as every other family
  // (writers under [[Manifest.withLock]], compaction behind a manifest
  // flip, one health row for the fleet table). Appends write the
  // BATCH's distinct hashes without anti-joining the stored set (an
  // anti-join would scan the corpus-sized table per batch); duplicate
  // hashes across appends are harmless to probes (semi-join semantics)
  // and are folded out by [[exactIndexCompact]].

  /** Build the persisted exact-dedup index: the corpus's distinct
    * content hashes. In-place fresh build (reader-UNSAFE, like every
    * fresh build in this package). */
  def exactIndexBuild(docs: DataFrame, dir: String, idCol: String,
                      textCol: String): Unit = {
    docs.select(md5(col(textCol)).as("h")).distinct()
      .write.mode("overwrite").parquet(s"$dir/hashes.parquet")
    Manifest.reset(docs.sparkSession, dir)
  }

  /** Append an accepted batch's distinct hashes — one batch scan, no
    * stored-set rescan. Lock held for the whole drop, table resolved
    * through the snapshot inside it. With `batchId` set the batch is
    * also recorded in the index's [[IngestLog]] (same locked span, data
    * first) so [[CorpusPipeline.fleetIngestReconcile]] can detect a
    * multi-family admission that crashed between appends. */
  def exactIndexAppend(spark: org.apache.spark.sql.SparkSession,
                       dir: String, batch: DataFrame, idCol: String,
                       textCol: String,
                       batchId: Option[String] = None): Unit =
    Lifecycle.append(spark, dir, batchId) { snap =>
      batch.select(md5(col(textCol)).as("h")).distinct()
        .write.mode("append").parquet(snap.path("hashes"))
      batch.select(md5(col(textCol)).as("h"))
    }

  /** Probe a delta batch against the persisted hash set: one content
    * hash per delta row. The stored hashes are semi-joined to the
    * batch's (a map-side filter against the broadcast batch-sized set),
    * and the surviving stored rows ride with the delta rows through ONE
    * window keyed on the hash, which flags each delta row whose hash
    * has a stored row — so the shuffle, and the probe's cost, is
    * bounded by the batch, not the index (a whole-table distinct of the
    * stored hashes would shuffle every distinct hash per probe).
    * Duplicate stored hashes cannot change the verdict OR the row
    * count: only the delta rows leave the window, so the output is
    * exactly one row per delta row however many times a hash was
    * re-appended — the contract [[CorpusPipeline.admitBatch]]'s funnel
    * counts rely on. Returns every delta row with `is_dup` (its text
    * already exists in the indexed corpus). */
  def exactIndexProbe(spark: SparkSession,
                      dir: String, delta: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val snap = Manifest.snapshot(spark, dir)
    val stored = Tombstones.live(spark, snap,
      Manifest.read(spark, snap.path("hashes")))
    val hashed = delta.select(col(idCol), md5(col(textCol)).as("h"))
    val hits = stored.select(col("h"))
      .join(hashed.select(col("h")), Seq("h"), "left_semi")
    hashed.withColumn("_hit", lit(false))
      .unionByName(hits.withColumn("_hit", lit(true)),
        allowMissingColumns = true)
      .withColumn("is_dup", coalesce(
        max(col("_hit")).over(Window.partitionBy(col("h"))), lit(false)))
      .where(!col("_hit"))
      .select(col(idCol), col("is_dup"))
  }

  /** Retract content from the persisted hash set ([[Tombstones]] — the
    * erasure verb): the given docs' content hashes are tombstoned, so
    * probes immediately stop reporting matching text as a duplicate;
    * the next [[exactIndexCompact]] physically drops the hashes. Note
    * the key is the CONTENT hash: if another live document shares the
    * exact text, re-append it after the fold (the key-level-delete
    * contract). */
  def exactIndexDelete(spark: org.apache.spark.sql.SparkSession,
                       dir: String, docs: DataFrame, idCol: String,
                       textCol: String): Unit =
    Tombstones.append(spark, dir,
      docs.select(md5(col(textCol)).as("h")))

  /** Fold append fragments into one distinct, range-clustered file set
    * behind a [[Manifest]] flip — the dedupe point for cross-append
    * duplicate hashes AND the fold point for pending [[Tombstones]]
    * (retracted hashes are dropped from the rewrite; the emptied
    * tombstone table flips in the same publish). */
  def exactIndexCompact(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Unit =
    Lifecycle.compactFlat(spark, dir, "hashes", Seq("h"),
      Lifecycle.Dedupe.Always, Lifecycle.Parts.BySize)

  /** Health row of the persisted hash set — fleet-table shape:
    * `total_rows` vs `distinct_hashes` measures cross-append duplicate
    * accumulation (compaction due when the gap grows), `n_fragments`
    * the file fragmentation. */
  def exactIndexHealth(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame = {
    val snap = Manifest.snapshot(spark, dir)
    // pending/ingest ride the SAME collected plan — one fused aggregate
    // ([[OpsStats.attach]]) instead of driver-side count jobs (or two
    // separate crossJoin sides) per reading: a fleet health union over
    // a thousand indexes stays one action. The logged accepted-batch
    // count matters because rows from several families union into the
    // fleet table, where a LOWER count than the siblings' is the
    // crash-divergence smell fleetIngestReconcile pins down.
    OpsStats.attach(spark, snap)(Lifecycle.healthRow(spark, snap, "hashes",
      Manifest.read(spark, snap.path("hashes")))(
      count(lit(1)).as("total_rows"),
      count_distinct(col("h")).as("distinct_hashes")))
  }

  // ---- the banded-bucket index: one body per step, two layouts -------
  // MinHash-LSH and SimHash are the same index: every document yields
  // (band, bucket) rows, a probe pairs the rows sharing a bucket (after
  // the hot-bucket guard), deduplicates the candidate pairs and
  // verifies each once. So every step — the in-memory self-join, build,
  // append, delete, compaction, the lazy and eager probe, health,
  // maintenance apply and ingest — is written ONCE below over a
  // [[Banded]] layout value, and the public minhash*/simhash* verbs
  // further down are one-expression forwards that pick the layout.
  //
  // The persisted tables close the loop [[incrementalMinhashLsh]]
  // documents ("exactly what a production pipeline persists between
  // batches"): the base corpus is signed and banded ONCE, every ingest
  // batch probes the FILES, and accepted batches append their own rows
  // so tomorrow's batch dedups against today's. Every writer runs under
  // [[Manifest.withLock]] with the table resolved through the snapshot
  // taken inside it, compaction flips a versioned manifest, and each
  // index gives one health row for the fleet table.

  /** Hot-bucket guard for LSH bucket self-joins: drop buckets with more
    * than `cap` members before pair generation. One degenerate bucket
    * (empty / boilerplate docs all hashing together) otherwise goes
    * |bucket|² — the classic LSH-dedup scale failure. The guard is a
    * map-side-combinable count (one row per bucket) and a broadcast
    * anti-join against only the over-cap bucket keys, so it costs one
    * cheap pass. Members of an over-cap bucket are near-identical
    * boilerplate by construction — run [[exact]] dedup first to collapse
    * them; pairs inside dropped buckets are reported by no strategy. */
  private def dropHotBuckets(banded: DataFrame, keys: Seq[String],
                             cap: Int): DataFrame =
    banded.join(
      banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_bn"))
        .filter(col("_bn") > cap).select(keys.map(col): _*),
      keys, "left_anti")

  /** The [[dropHotBuckets]] guard and the bucket equi-join of an
    * incremental probe — of both layouts and of [[incrementalMinhashLsh]]
    * — over ONE pass of the index side: `index` and `delta` carry the
    * `keys` plus their own columns, the output is every (delta row,
    * index row) pair sharing a bucket that is within `cap` on both
    * sides. Only buckets the delta touches can yield a pair, so the
    * index is first semi-joined to the delta's bucket keys (a map-side
    * filter against the batch-sized key set) and counted only there — a
    * per-bucket window over the delta's bucket occupancy, never an
    * aggregate over the whole index. The pairs are exactly those of
    * guarding each side over its whole table: a bucket's index count is
    * the same whether or not the other buckets are counted, and a
    * bucket absent from the delta yields no pair either way. The
    * pairing is a shuffled hash join on the windows' own partitioning:
    * both sides are bounded (by the batch, and by `cap` per bucket), so
    * it costs a stage, not the broadcast job a size estimate could pick
    * for it. */
  private def probeBucketJoin(index: DataFrame, delta: DataFrame,
                              keys: Seq[String], cap: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    def guarded(rows: DataFrame): DataFrame =
      rows.withColumn("_bn", count(lit(1)).over(w))
        .where(col("_bn") <= cap).drop("_bn")
    guarded(delta).hint("shuffle_hash").join(guarded(
      index.join(delta.select(keys.map(col): _*), keys, "left_semi")), keys)
  }

  private val BucketKeys = Seq("band", "bucket")

  /** The bucket layout: everything the MinHash and SimHash indexes
    * differ in. The step bodies never ask which layout they serve.
    * `table` is the stored table (`what` names it in errors); `metric`
    * is the verified score over each document's `verifyCol`; `payload`
    * the stored columns the candidate pairing carries to the verify;
    * `bandsPerRow` the band rows per document (the derived probe scope's
    * row count); `sortKeys` the compaction's range-clustering keys. */
  private[operators] sealed abstract class Banded(
      val op: String, val table: String, val what: String,
      val metric: String, val verifyCol: String, val payload: Seq[String],
      val bandsPerRow: Int, val sortKeys: Seq[String]) {
    /** (id, text) → the per-document frame `id` + `verifyCol` (+ what
      * [[stored]] reads) that a probe and the self-join persist once. */
    def sign(docs: DataFrame, idCol: String, textCol: String): DataFrame
    /** A [[sign]] frame → the rows written to disk. */
    def stored(signed: DataFrame): DataFrame
    /** Stored rows → (id, `payload`…, band, bucket). */
    def band(stored: DataFrame): DataFrame = stored
    /** Pin the parameters next to a fresh build. */
    def pin(spark: SparkSession, dir: String): Unit = ()
    def score(a: Column, b: Column): Column
    def keep(metric: Column, bound: Double): Column
    /** Candidate (delta_id, base_id, payload_d…, payload_b…) rows → with
      * the `<verifyCol>_d` / `<verifyCol>_b` columns the verify scores.
      * `signed` is the delta's [[sign]] frame, `base` the caller's text. */
    def verifySides(cands: DataFrame, signed: DataFrame,
                    base: Option[DataFrame], idCol: String,
                    textCol: String): DataFrame = cands
    /** The family's health columns over the raw stored rows, one row. */
    def readings(stored: DataFrame, hotBucketCap: Int): DataFrame

    def encode(docs: DataFrame, idCol: String, textCol: String): DataFrame =
      stored(sign(docs, idCol, textCol))
  }

  /** Bucket-count readings shared by both layouts' health rows, over
    * per-bucket sizes `_n`. */
  private def bucketSkew(hotBucketCap: Int): Seq[Column] =
    Seq(count(lit(1)).as("n_buckets"), max(col("_n")).as("max_bucket"),
      count(when(col("_n") > hotBucketCap, 1)).as("hot_buckets"))

  /** MinHash-LSH: `bands(id, band, bucket)`, one row per band. The LSH
    * parameters are pinned in `_minhash_meta`: a probe at different
    * parameters would hash into disjoint buckets and silently report
    * zero duplicates. Verification is the exact shingle Jaccard, so a
    * probe fetches base TEXT for its candidate ids only — the
    * candidates-then-fetch shape of IVF-PQ's refine. */
  private[operators] final case class MinHash(shingleN: Int, sigK: Int,
                                              bands: Int)
      extends Banded("minhash", "bands", "banded", "jaccard", "sh", Nil, bands,
        BucketKeys) {
    require(bands >= 1 && sigK % bands == 0,
      s"sigK=$sigK must be a positive multiple of bands=$bands " +
        "(bands > sigK would make every band empty and silently " +
        "return no pairs)")
    def sign(docs: DataFrame, idCol: String, textCol: String): DataFrame =
      docs.select(col(idCol).as("id"),
        TF.distinctShingles(col(textCol), shingleN).as("sh"),
        TF.minhashSignature(col(textCol), shingleN, sigK).as("sig"))
    def stored(signed: DataFrame): DataFrame = {
      val bandSize = sigK / bands
      signed.select(col("id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          TF.lshBand(col("sig"), b * bandSize, bandSize).as("bucket"))
      ): _*)).as("lb"))
        .select(col("id"), col("lb.band"), col("lb.bucket"))
    }
    override def pin(spark: SparkSession, dir: String): Unit =
      Manifest.writeParams(spark, minhashMetaPath(dir),
        Seq("shingleN" -> shingleN, "sigK" -> sigK, "bands" -> bands))
    def score(a: Column, b: Column): Column = TF.jaccard(a, b)
    def keep(metric: Column, bound: Double): Column = metric >= bound
    // fetch-then-shingle ONLY candidate base rows (the whole point of
    // the persisted index is never re-shingling the base corpus): the
    // text table is filtered map-side against the broadcast candidate
    // ids, then LEFT-joined under them, so a candidate id the text
    // table cannot resolve raises (codegen'd `raise_error`, free on the
    // no-miss path) instead of vanishing — the caller passed a table
    // that does not cover every indexed batch. The joins among
    // batch-sized sides are shuffled hash joins (stages, not broadcast
    // jobs).
    override def verifySides(cands: DataFrame, signed: DataFrame,
                             base: Option[DataFrame], idCol: String,
                             textCol: String): DataFrame = {
      val candIds = cands.select(col("base_id")).distinct()
      val fetched = base.getOrElse(throw new IllegalArgumentException(
          "minhash probe: verifying candidates needs the base text table " +
            "— the bands index stores no text"))
        .select(col(idCol).as("base_id"), col(textCol).as("_t"))
        .join(broadcast(candIds), Seq("base_id"), "left_semi")
      val candBase = candIds.join(fetched.hint("shuffle_hash"),
          Seq("base_id"), "left")
        .select(col("base_id"),
          TF.distinctShingles(
            when(col("_t").isNull, raise_error(concat(
              lit("minhashIndexProbe: index candidate base_id "),
              col("base_id").cast("string"),
              lit(" has no row in the supplied base text table — pass " +
                "a table covering every indexed batch")))).otherwise(
              col("_t")), shingleN).as("sh_b"))
      cands
        .join(signed.select(col("id").as("delta_id"), col("sh").as("sh_d"))
          .hint("shuffle_hash"), Seq("delta_id"))
        .join(candBase.hint("shuffle_hash"), Seq("base_id"))
    }
    // _nd = distinct ids per bucket: a replayed ingest batch lands
    // IDENTICAL (id, band, bucket) rows, so Σ _nd is the table's
    // distinct-row count and the total_rows − distinct_rows gap is the
    // replay-duplicate debt compaction will fold
    def readings(stored: DataFrame, hotBucketCap: Int): DataFrame =
      stored.groupBy(BucketKeys.map(col): _*)
        .agg(count(lit(1)).as("_n"), count_distinct(col("id")).as("_nd"))
        .agg(lit(shingleN).as("shingle_n"), Seq(lit(sigK).as("sig_k"),
          lit(bands).as("n_bands"), sum(col("_n")).as("total_rows"),
          sum(col("_nd")).as("distinct_rows")) ++ bucketSkew(hotBucketCap)
          : _*)
  }

  /** SimHash: `sigs(id, sig)`, 16 bytes per document — the 4×16-bit
    * pigeonhole buckets (docs within Hamming h ≤ 3 share ≥ 1 band) are
    * a bit-slice of the signature, DERIVED on scan rather than stored.
    * `simhash64` is parameter-free, so nothing is pinned, and the
    * Hamming verify reads the signatures the candidate join carried: a
    * probe needs NO base text table. Compaction clusters on `sig`, which
    * sorts band 3 (the top 16 bits) into contiguous row groups — one of
    * the four probe joins gets min/max pruning; the other three are
    * bit-slices no single sort order can serve, and at 16 bytes a row
    * defragmentation is the point, not pruning. */
  private[operators] case object SimHash extends Banded("simhash", "sigs",
      "signature", "hamming", "sig", Seq("sig"), 4, Seq("sig")) {
    def sign(docs: DataFrame, idCol: String, textCol: String): DataFrame =
      docs.select(col(idCol).as("id"), TF.simhash64(col(textCol)).as("sig"))
    def stored(signed: DataFrame): DataFrame =
      signed.select(col("id"), col("sig"))
    override def band(stored: DataFrame): DataFrame =
      stored.select(col("id"), col("sig"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))
            .as("bucket"))): _*)).as("lb"))
        .select(col("id"), col("sig"), col("lb.band"), col("lb.bucket"))
    def score(a: Column, b: Column): Column = TF.hamming64(a, b)
    def keep(metric: Column, bound: Double): Column = metric <= bound
    // distinct (id, sig) vs total rows: the replay-duplicate debt a
    // retried ingest micro-batch leaves behind
    def readings(stored: DataFrame, hotBucketCap: Int): DataFrame =
      band(stored).groupBy(BucketKeys.map(col): _*)
        .agg(count(lit(1)).as("_n"))
        .agg(sum(col("_n")).as("total_band_rows"),
          bucketSkew(hotBucketCap): _*)
        .crossJoin(stored.agg(count(lit(1)).as("total_rows"),
          count_distinct(col("id"), col("sig")).as("distinct_rows")))
        .select(Seq("total_band_rows", "total_rows", "distinct_rows",
          "n_buckets", "max_bucket", "hot_buckets").map(col): _*)
  }

  private def minhashMetaPath(dir: String) = s"$dir/_minhash_meta"

  /** (shingleN, sigK, bands) the index at `dir` was built with. */
  def minhashIndexParams(spark: SparkSession,
                         dir: String): (Int, Int, Int) = {
    val m = Manifest.readParams(spark, minhashMetaPath(dir))
      .map { case (k, v) => k -> v.trim.toInt }
    (m("shingleN"), m("sigK"), m("bands"))
  }

  /** The MinHash layout pinned at `dir`. */
  private[operators] def pinned(spark: SparkSession, dir: String): MinHash =
    MinHash.tupled(minhashIndexParams(spark, dir))

  /** Persist a frame that a plan reads more than once (LRU-evictable). */
  private def cached(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Candidate (delta_id, base_id) pairs scored by the layout's metric
    * over the `<verifyCol>_d` / `_b` columns and filtered by `bound`. */
  private def verified(b: Banded, sides: DataFrame,
                       bound: Double): DataFrame =
    sides.select(col("delta_id"), col("base_id"),
        b.score(col(s"${b.verifyCol}_d"), col(s"${b.verifyCol}_b"))
          .as(b.metric))
      .filter(b.keep(col(b.metric), bound))

  /** Distinct candidate pairs of a delta ([[Banded.sign]] frame) against
    * stored rows: (delta_id, base_id, payload_d…, payload_b…), each pair
    * once however many bands it shares ([[probeBucketJoin]]). */
  private def candidates(b: Banded, index: DataFrame, signed: DataFrame,
                         cap: Int): DataFrame = {
    def side(rows: DataFrame, id: String, sfx: String): DataFrame =
      b.band(rows).select(col("band") +: col("bucket") +: col("id").as(id) +:
        b.payload.map(p => col(p).as(p + sfx)): _*)
    val payload = b.payload.map(_ + "_d") ++ b.payload.map(_ + "_b")
    probeBucketJoin(side(index, "base_id", "_b"),
        side(b.stored(signed), "delta_id", "_d"), BucketKeys, cap)
      .select(("delta_id" +: "base_id" +: payload).map(col): _*)
      .distinct()
  }

  /** The in-memory self-join: sign once (persisted — it feeds both the
    * banding and the verify join-back), band, guard, equi-join within
    * buckets. The band join carries BARE ids — candidate (id_a, id_b)
    * pairs are deduplicated across bands BEFORE the verify columns are
    * joined back, so a pair sharing every band is verified once, and the
    * heavy columns never ride the banded shuffle (the
    * [[prefixFilterJaccard]] shape). */
  private def selfJoin(b: Banded, docs: DataFrame, idCol: String,
                       textCol: String, bound: Double,
                       maxBucketSize: Int): DataFrame = {
    val signed = cached(b.sign(docs, idCol, textCol))
    val banded = dropHotBuckets(b.band(b.stored(signed))
      .select("id", "band", "bucket"), BucketKeys, maxBucketSize)
    val cands = banded.select(col("band"), col("bucket"),
        col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        BucketKeys)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    def side(id: String) =
      signed.select(col("id").as(id), col(b.verifyCol).as(s"${id}_v"))
    cands.join(side("id_a"), Seq("id_a")).join(side("id_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        b.score(col("id_a_v"), col("id_b_v")).as(b.metric))
      .filter(b.keep(col(b.metric), bound))
  }

  /** Build: the corpus's stored rows plus the pinned parameters — the
    * one full-corpus signature scan a daily pipeline should ever pay.
    * In-place fresh build (reader-UNSAFE, like [[Similarity.ivfBuild]]):
    * overwrites the default table and drops any stale manifest so an
    * earlier compaction cannot shadow it. */
  private def build(b: Banded, docs: DataFrame, dir: String, idCol: String,
                    textCol: String): Unit = {
    val spark = docs.sparkSession
    b.encode(docs, idCol, textCol)
      .write.mode("overwrite").parquet(s"$dir/${b.table}.parquet")
    b.pin(spark, dir)
    Manifest.reset(spark, dir)
  }

  /** Append an accepted batch's rows — one batch scan, no rebuild.
    * [[Lifecycle.append]] holds the writer lock for the WHOLE file drop
    * and resolves the live table through the snapshot INSIDE it, so an
    * append can neither interleave with another writer nor land files in
    * a directory a concurrent compaction is about to supersede. Each
    * append adds one file fragment set; [[compact]] folds them back. */
  private[operators] def append(b: Banded, spark: SparkSession, dir: String,
                                batch: DataFrame, idCol: String,
                                textCol: String,
                                batchId: Option[String]): Unit =
    Lifecycle.append(spark, dir, batchId) { snap =>
      b.encode(batch, idCol, textCol)
        .write.mode("append").parquet(snap.path(b.table))
      batch.select(col(idCol).as("id"))
    }

  /** Retract documents ([[Tombstones]] — the erasure verb): the ids'
    * rows stop matching probes immediately (stored-side anti-join) and
    * are physically dropped by the next [[compact]]. `ids` needs one
    * column, cast to the stored id type so the anti-join cannot
    * silently type-mismatch. */
  private[operators] def delete(b: Banded, spark: SparkSession, dir: String,
                                ids: DataFrame, idCol: String): Unit =
    Tombstones.retractIds(spark, Manifest.snapshot(spark, dir), b.table,
      ids, idCol)

  /** Fold the table's append fragments into one coherent file set:
    * read once under the writer lock (held across the read→rewrite→flip
    * span), rewritten range-clustered on the layout's sort keys so
    * row-group min/max pruning works after the rewrite, swapped in with
    * ONE [[Manifest]] flip. Always distinct: the dedupe point for
    * replayed-ingest rows (an at-least-once micro-batch retry lands
    * identical rows — probes survive that through candidate-pair dedup,
    * but the duplicates inflate `total_rows`/`max_bucket` and scan cost
    * until a compaction folds them). Pending [[Tombstones]] fold into
    * the rewrite. */
  private[operators] def compact(b: Banded, spark: SparkSession,
                                 dir: String): Unit =
    Lifecycle.compactFlat(spark, dir, b.table, b.sortKeys,
      Lifecycle.Dedupe.Always, Lifecycle.Parts.BySize)

  /** Operational health row — physical size plus BUCKET-SKEW readings,
    * because a hot bucket is this index's failure mode (the probe guard
    * silently drops over-cap buckets, so a growing `hot_buckets` count
    * means near-dups are going unreported and an exact-dedup pre-pass
    * is due), and `n_fragments` (append fragmentation → compaction).
    * One collected plan: the readings are one bounded scan of the
    * stored table, pending/ingest fused into a single aggregate side
    * ([[OpsStats.attach]]). */
  private[operators] def health(b: Banded, spark: SparkSession, dir: String,
                                hotBucketCap: Int): DataFrame = {
    val snap = Manifest.snapshot(spark, dir)
    OpsStats.attach(spark, snap)(b.readings(
      Manifest.read(spark, snap.path(b.table)), hotBucketCap)
      .select(col("*") +: Lifecycle.healthTail(spark, snap, b.table): _*))
  }

  /** The probe's LAZY core: the verified-pair frame (delta_id, base_id,
    * metric) WITHOUT a final checkpoint, plus the persisted handles its
    * plan still reads (unpersist them only AFTER the plan has been
    * consumed — the delta's signature cache is multi-consumer inside the
    * plan). For compositions that fold the pairs into exactly one
    * downstream action (the admission kernel's verdict write), a
    * checkpoint buys nothing: skipping it lets the whole verdict batch
    * execute as ONE job. The guard and the candidate join read the live
    * index once, restricted to the delta's buckets ([[probeBucketJoin]]),
    * so the cost is bounded by the delta's bucket occupancy, not the
    * index size. */
  private[operators] def probeLazy(b: Banded, spark: SparkSession,
                                   dir: String, delta: DataFrame,
                                   base: Option[DataFrame], idCol: String,
                                   textCol: String, bound: Double,
                                   maxBucketSize: Int)
    : (DataFrame, Seq[DataFrame]) = {
    val snap = Manifest.snapshot(spark, dir)
    val index = Tombstones.live(spark, snap,
      Manifest.read(spark, snap.path(b.table)))
    val signed = cached(b.sign(delta, idCol, textCol))
    (verified(b, b.verifySides(candidates(b, index, signed, maxBucketSize),
      signed, base, idCol, textCol), bound), Seq(signed))
  }

  /** The eager probe: [[probeLazy]], then count the persisted delta
    * (`handles.head`, whose cache the plan reads anyway), checkpoint the
    * pairs inside the derived-shuffle scope keyed on the delta's band
    * rows ([[graft.util.ExecProfile.withDerivedShuffle]] — a no-op once
    * the batch fills the session's shuffle width), then release the
    * handles, so a long-lived daily-pipeline session never accumulates
    * cached partitions across probes. Release the result's pinned
    * blocks with [[Clustering.releasePairs]] when done with it. */
  private def probe(b: Banded, spark: SparkSession, dir: String,
                    delta: DataFrame, base: Option[DataFrame], idCol: String,
                    textCol: String, bound: Double,
                    maxBucketSize: Int): DataFrame = {
    val (pairs, handles) = probeLazy(b, spark, dir, delta, base, idCol,
      textCol, bound, maxBucketSize)
    val rows = handles.head.queryExecution.toRdd.count() * b.bandsPerRow
    val out = graft.util.ExecProfile.withDerivedShuffle(spark, rows)(
      pairs.localCheckpoint(true))
    handles.foreach(_.unpersist(false))
    out
  }

  /** Execute an [[Similarity.indexMaintenancePlan]] action — the apply
    * half of the health → plan → apply loop: `compact` folds append
    * fragments; `dedup_prepass` answers a hot `hot_buckets` reading. A
    * hot bucket's members are near-identical boilerplate by
    * construction, so the fix is collapsing them, not rewriting files:
    * the corpus is exact-deduped to its min-id keepers and the table is
    * REBUILT from them (same pinned parameters) behind one manifest flip
    * under the full-span writer lock. A post-action probe reports the
    * pairs the guard was silently dropping, now against each
    * boilerplate class's keeper. Pending tombstones are NOT folded: the
    * caller's corpus may still carry retracted ids, so they stay pending
    * and keep hiding them until a compaction. `dedup_prepass` REQUIRES
    * the corpus text table (stored rows cannot reconstruct text) and
    * throws without it. */
  private[operators] def maintenanceApply(b: Banded, spark: SparkSession,
                                          dir: String, action: String,
                                          corpus: Option[DataFrame],
                                          idCol: String = "id",
                                          textCol: String = "text"): Unit =
    action match {
      case "none" => ()
      case "compact" => compact(b, spark, dir)
      case "dedup_prepass" =>
        val c = corpus.getOrElse(throw new IllegalArgumentException(
          s"${b.op}MaintenanceApply: a dedup_prepass rebuild needs the " +
            s"corpus text table — the ${b.what} index cannot reconstruct " +
            "text"))
        Lifecycle.rewrite(spark, dir, fold = false) { _ =>
          val keepers = c.join(
            exact(c, idCol, textCol).select(col("keeper_id").as(idCol)),
            Seq(idCol), "left_semi")
          val tmp = s"$dir/_rebuild.tmp.${b.table}"
          b.encode(keepers, idCol, textCol)
            .write.mode("overwrite").parquet(tmp)
          Seq(b.table -> tmp)
        }
      case other => throw new IllegalArgumentException(
        s"${b.op}MaintenanceApply: unknown action '$other'")
    }

  /** Streaming micro-batch ingest: each non-empty micro-batch of
    * accepted documents is an [[append]] under the layout `at` resolves
    * for that batch (MinHash re-reads its pinned parameters).
    * At-least-once like every foreachBatch sink — a retried batch lands
    * its rows twice, which inflates candidate multiplicity but never
    * pair VALUES (the probe deduplicates candidate pairs before
    * verifying); compaction is the dedupe point. Single-writer: a batch
    * colliding with a concurrent compaction fails loudly and the
    * restarted query replays it from the checkpoint. */
  private def ingest(at: SparkSession => Banded, stream: DataFrame,
                     dir: String, checkpoint: String, idCol: String,
                     textCol: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    Lifecycle.ingest(stream, checkpoint)(batch =>
      append(at(batch.sparkSession), batch.sparkSession, dir, batch, idCol,
        textCol, None))

  // ---- MinHash-LSH verbs ---------------------------------------------

  /** MinHash-LSH near-dup candidate pairs: signature → bands → equi-join
    * within band buckets → verify with true shingle Jaccard. Only pairs
    * sharing ≥1 band are ever materialized; output (id_a, id_b,
    * jaccard). */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, sigK: Int = 8, bands: Int = 4,
                 threshold: Double = 0.5,
                 maxBucketSize: Int = 10000): DataFrame =
    selfJoin(MinHash(shingleN, sigK, bands), docs, idCol, textCol,
      threshold, maxBucketSize)

  /** Incremental MinHash-LSH: delta (ingest batch) docs probed against
    * the BASE corpus's bands — the daily-ingest near-dup path where
    * [[minhashLsh]] is the full-corpus refresh. Output: one row per
    * (delta_id, base_id) near-dup pair with its verified Jaccard. The
    * candidate join is delta bands (batch-sized) against the base's
    * (band, bucket, id) rows, restricted to the buckets the delta
    * touches ([[probeBucketJoin]]), so corpus-internal duplicates never
    * re-pair; the shingle-verify joins touch candidate ids only. Signing
    * the base corpus is still a full pass — the persisted index
    * ([[minhashIndexProbe]]) is what removes it. */
  def incrementalMinhashLsh(delta: DataFrame, base: DataFrame,
                            idCol: String, textCol: String,
                            shingleN: Int = 3, sigK: Int = 4,
                            bands: Int = 2, threshold: Double = 0.5,
                            maxBucketSize: Int = 10000): DataFrame = {
    val m = MinHash(shingleN, sigK, bands)
    val dP = cached(m.sign(delta, idCol, textCol))
    val bP = cached(m.sign(base, idCol, textCol))
    verified(m, candidates(m, m.stored(bP), dP, maxBucketSize)
      .join(dP.select(col("id").as("delta_id"), col("sh").as("sh_d")),
        Seq("delta_id"))
      .join(bP.select(col("id").as("base_id"), col("sh").as("sh_b")),
        Seq("base_id")), threshold)
  }

  /** Build the persisted MinHash index ([[build]]): (id, band, bucket)
    * rows plus `_minhash_meta`. */
  def minhashIndexBuild(docs: DataFrame, dir: String, idCol: String,
                        textCol: String, shingleN: Int = 3,
                        sigK: Int = 4, bands: Int = 2): Unit =
    build(MinHash(shingleN, sigK, bands), docs, dir, idCol, textCol)

  /** [[append]] a batch's band rows under the pinned parameters. */
  def minhashIndexAppend(spark: SparkSession, dir: String, batch: DataFrame,
                         idCol: String, textCol: String,
                         batchId: Option[String] = None): Unit =
    append(pinned(spark, dir), spark, dir, batch, idCol, textCol, batchId)

  /** [[delete]] documents from the persisted MinHash index. */
  def minhashIndexDelete(spark: SparkSession, dir: String, ids: DataFrame,
                         idCol: String = "id"): Unit =
    delete(pinned(spark, dir), spark, dir, ids, idCol)

  /** [[compact]] the bands table, clustered on (band, bucket) — the
    * probe's equi-join keys. */
  def minhashIndexCompact(spark: SparkSession, dir: String): Unit =
    compact(pinned(spark, dir), spark, dir)

  /** [[health]] of a persisted MinHash index: `shingle_n`, `sig_k`,
    * `n_bands`, `total_rows`, `distinct_rows`, `n_buckets`,
    * `max_bucket`, `hot_buckets`, `dir`, `version`, `n_fragments`,
    * `deleted_pending`, `ingest_batches`. */
  def minhashIndexHealth(spark: SparkSession, dir: String,
                         hotBucketCap: Int = 10000): DataFrame =
    health(pinned(spark, dir), spark, dir, hotBucketCap)

  /** Probe a delta batch against the persisted index ([[probe]]):
    * [[incrementalMinhashLsh]] with the base side read from files — the
    * base corpus is never re-signed. `base` supplies the TEXT for the
    * verification of candidate ids only; a candidate base_id with NO row
    * in `base` fails the job loudly. Cost: one pass of the bands table,
    * filtered map-side to the delta's buckets, and one of `base`,
    * filtered map-side to the candidate ids. */
  def minhashIndexProbe(spark: SparkSession, dir: String, delta: DataFrame,
                        base: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.5,
                        maxBucketSize: Int = 10000): DataFrame =
    probe(pinned(spark, dir), spark, dir, delta, Some(base), idCol, textCol,
      threshold, maxBucketSize)

  /** [[maintenanceApply]] on a persisted MinHash index. */
  def minhashMaintenanceApply(spark: SparkSession, dir: String,
                              action: String,
                              corpus: Option[DataFrame] = None,
                              idCol: String = "id",
                              textCol: String = "text"): Unit =
    maintenanceApply(pinned(spark, dir), spark, dir, action, corpus, idCol,
      textCol)

  /** [[ingest]] into a persisted MinHash index. */
  def minhashIngest(stream: DataFrame, dir: String, checkpoint: String,
                    idCol: String = "id", textCol: String = "text")
    : org.apache.spark.sql.streaming.StreamingQuery =
    ingest(pinned(_, dir), stream, dir, checkpoint, idCol, textCol)

  // ---- SimHash verbs -------------------------------------------------

  /** SimHash near-dup pairs: 64-bit signature, bucket by 16-bit bands
    * (docs within `maxHamming` ≤ 3 share ≥1 of 4 bands by pigeonhole),
    * verify with full Hamming distance; output (id_a, id_b, hamming). */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              maxHamming: Int = 3, maxBucketSize: Int = 10000): DataFrame =
    selfJoin(SimHash, docs, idCol, textCol, maxHamming, maxBucketSize)

  /** Build the persisted SimHash index ([[build]]): (id, sig) rows. */
  def simhashIndexBuild(docs: DataFrame, dir: String, idCol: String,
                        textCol: String): Unit =
    build(SimHash, docs, dir, idCol, textCol)

  /** [[append]] a batch's signatures. */
  def simhashIndexAppend(spark: SparkSession, dir: String, batch: DataFrame,
                         idCol: String, textCol: String,
                         batchId: Option[String] = None): Unit =
    append(SimHash, spark, dir, batch, idCol, textCol, batchId)

  /** [[delete]] documents from the persisted SimHash index. */
  def simhashIndexDelete(spark: SparkSession, dir: String, ids: DataFrame,
                         idCol: String = "id"): Unit =
    delete(SimHash, spark, dir, ids, idCol)

  /** [[compact]] the signature table, clustered on `sig`. */
  def simhashIndexCompact(spark: SparkSession, dir: String): Unit =
    compact(SimHash, spark, dir)

  /** [[health]] of a persisted SimHash index: `total_band_rows`,
    * `total_rows`, `distinct_rows`, `n_buckets`, `max_bucket`,
    * `hot_buckets`, `dir`, `version`, `n_fragments`, `deleted_pending`,
    * `ingest_batches`. */
  def simhashIndexHealth(spark: SparkSession, dir: String,
                         hotBucketCap: Int = 10000): DataFrame =
    health(SimHash, spark, dir, hotBucketCap)

  /** Probe a delta batch against the persisted index ([[probe]]):
    * [[simhash]] with the base side read from files; the verify is
    * Hamming distance on the STORED signatures, so no base text table. */
  def simhashIndexProbe(spark: SparkSession, dir: String, delta: DataFrame,
                        idCol: String, textCol: String, maxHamming: Int = 3,
                        maxBucketSize: Int = 10000): DataFrame =
    probe(SimHash, spark, dir, delta, None, idCol, textCol, maxHamming,
      maxBucketSize)

  /** [[maintenanceApply]] on a persisted SimHash index. */
  def simhashMaintenanceApply(spark: SparkSession, dir: String,
                              action: String,
                              corpus: Option[DataFrame] = None,
                              idCol: String = "id",
                              textCol: String = "text"): Unit =
    maintenanceApply(SimHash, spark, dir, action, corpus, idCol, textCol)

  /** [[ingest]] into a persisted SimHash index. */
  def simhashIngest(stream: DataFrame, dir: String, checkpoint: String,
                    idCol: String = "id", textCol: String = "text")
    : org.apache.spark.sql.streaming.StreamingQuery =
    ingest(_ => SimHash, stream, dir, checkpoint, idCol, textCol)

  /** n-gram Jaccard near-dup pairs within an explicit blocking key (e.g.
    * source), computed by prefix-filtered set-similarity join — never the
    * all-pairs |block|² product.
    *
    * Candidate generation (the standard ppjoin/AllPairs prefix filter,
    * Bayardo et al. WWW'07): shingles are xxhash64-hashed, deduped and
    * sorted ONCE per document; any pair with J ≥ t must share ≥
    * ⌈t·max(|a|,|b|)⌉ hashes, therefore must share at least one hash in
    * each side's first |x| − ⌈t·|x|⌉ + 1 sorted hashes. Candidates are an
    * equi-join on (block, prefix-hash) — a shuffle keyed by hash whose
    * cost is Σ posting-list², not Σ block². At t→0 the prefix degrades to
    * a full inverted index: still only pairs sharing ≥1 actual shingle
    * (which J ≥ t > 0 requires), so correctness is unconditional.
    *
    * Verification is a linear merge over the two sorted long arrays
    * (~8× cheaper than a string hash-set intersection at sf0.1). Hash
    * collisions within a compared pair are ~2⁻⁶⁴·|sh|² — negligible. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   blockCol: String, n: Int = 3,
                   threshold: Double = 0.1): DataFrame = {
    val d0 = docs.select(col(blockCol).as("block"), col(idCol).as("id"),
      sort_array(array_distinct(transform(TF.shingles(col(textCol), n),
        s => xxhash64(s)))).as("sh"))
    // Strategy crossover: the prefix filter prunes candidates by a factor
    // of ~t², so it wins when t is high; as t→0 the prefix degrades to
    // the full inverted index and the count-based join (no distinct, no
    // array-carrying verify joins, map-side-combinable aggregate) is
    // strictly cheaper on the same candidate volume.
    if (threshold >= 0.3) prefixFilterJaccard(d0, threshold)
    else countJaccard(d0, threshold)
  }

  /** Exact Jaccard by co-occurrence counting: join the full inverted
    * index with itself, so each candidate pair appears once per SHARED
    * hash, and `groupBy(pair).count()` IS the exact intersection size —
    * Spark's partial aggregation combines duplicates map-side before the
    * shuffle, replacing ppjoin's `.distinct()` + two verify joins that
    * ship the shingle arrays. Only the two scalar set sizes are joined
    * back. Correct for any t > 0 (a qualifying pair shares ≥1 hash);
    * preferable when t is too low for the prefix filter to prune. */
  private def countJaccard(d0: DataFrame, threshold: Double): DataFrame = {
    val (inter, sizes) = coOccurrenceCounts(d0,
      pairFilter = col("id_a") < col("id_b"))
    inter
      .join(sizes.select(col("block"), col("id").as("id_a"),
        col("n").as("n_a")), Seq("block", "id_a"))
      .join(sizes.select(col("block"), col("id").as("id_b"),
        col("n").as("n_b")), Seq("block", "id_b"))
      .select(col("block"), col("id_a"), col("id_b"),
        (col("_i").cast("double") / (col("n_a") + col("n_b") - col("_i")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Shared candidate machinery for the inverted-index strategies:
    * persist the shingled corpus, self-join the exploded index on
    * (block, hash), and count shared hashes per surviving pair.
    * Returns (per-pair intersection counts as `_i`, per-doc set sizes
    * as `n`). */
  private def coOccurrenceCounts(d0: DataFrame, pairFilter: Column)
  : (DataFrame, DataFrame) = {
    val d = d0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = d.select(col("block"), col("id"), explode(col("sh")).as("h"))
    val inter = ex.select(col("block"), col("h"), col("id").as("id_a"))
      .join(ex.select(col("block"), col("h"), col("id").as("id_b")),
        Seq("block", "h"))
      .filter(pairFilter)
      .groupBy("block", "id_a", "id_b").agg(count(lit(1)).as("_i"))
    val sizes = d.select(col("block"), col("id"), size(col("sh")).as("n"))
    (inter, sizes)
  }

  /** Directional containment pairs: C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| —
    * the asymmetric twin of Jaccard that catches PARTIAL duplication
    * (doc a quoted or subsumed inside doc b) which symmetric Jaccard
    * misses when |b| ≫ |a|. Same inverted-index co-occurrence count as
    * [[countJaccard]] (one shuffle keyed by shingle hash, map-side
    * combinable), emitted in both directions per unordered pair. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       blockCol: String, n: Int = 3,
                       threshold: Double = 0.8): DataFrame = {
    val d0 = docs.select(col(blockCol).as("block"), col(idCol).as("id"),
      sort_array(array_distinct(transform(TF.shingles(col(textCol), n),
        s => xxhash64(s)))).as("sh"))
    val (inter, sizes) = coOccurrenceCounts(d0,
      pairFilter = col("id_a") =!= col("id_b"))
    inter
      .join(sizes.select(col("block"), col("id").as("id_a"),
        col("n").as("n_a")), Seq("block", "id_a"))
      // threshold on the EXACT integer ratio (consistent with the other
      // strategies); the display column rounds afterwards
      .filter(col("_i").cast("double") / col("n_a") >= threshold)
      .select(col("block"), col("id_a"), col("id_b"),
        round((col("_i").cast("double") / col("n_a")) + lit(1e-9), 6)
          .as("containment"))
  }

  /** The standard ppjoin/AllPairs prefix filter (Bayardo et al. WWW'07):
    * candidates share a hash in the first |sh| − ⌈t·|sh|⌉ + 1 sorted
    * hashes, then exact verification by a linear merge of the sorted
    * hash arrays. The shingled corpus is persisted (LRU-evictable) for
    * the duration of the plan — it feeds three scans. */
  private def prefixFilterJaccard(d0: DataFrame, threshold: Double)
  : DataFrame = {
    // shingle+hash arrays feed the prefix explode AND both verify joins —
    // materialize once instead of re-tokenizing the corpus three times
    val d = d0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // prefix length |sh| − ⌈t·|sh|⌉ + 1 (≥1 shared prefix hash required)
    val prefixLen = (size(col("sh")) -
      ceil(lit(threshold) * size(col("sh"))) + 1).cast("int")
    val ex = d.select(col("block"), col("id"),
      explode(slice(col("sh"), lit(1), prefixLen)).as("h"))
    val cands = ex.select(col("block"), col("h"), col("id").as("id_a"))
      .join(ex.select(col("block"), col("h"), col("id").as("id_b")),
        Seq("block", "h"))
      .filter(col("id_a") < col("id_b"))
      .select("block", "id_a", "id_b")
      .distinct()
    val inter = udf { (a: Seq[Long], b: Seq[Long]) =>
      var i = 0; var j = 0; var c = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      c
    }
    cands
      .join(d.select(col("block"), col("id").as("id_a"),
        col("sh").as("sh_a")), Seq("block", "id_a"))
      .join(d.select(col("block"), col("id").as("id_b"),
        col("sh").as("sh_b")), Seq("block", "id_b"))
      .withColumn("_i", inter(col("sh_a"), col("sh_b")))
      .select(col("block"), col("id_a"), col("id_b"),
        (col("_i").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("_i")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Embedding-cosine near-dup pairs: sign-LSH bucket join, then exact
    * cosine verification within buckets. */
  def embeddingCosine(emb: DataFrame, idCol: String, vecCol: String,
                      nBits: Int = 8, threshold: Double = 0.95,
                      maxBucketSize: Int = 10000): DataFrame = {
    val d = dropHotBuckets(
      emb.select(col(idCol).as("id"), col(vecCol).as("v"),
        V.lshBucket(col(vecCol), nBits).as("bucket")),
      Seq("bucket"), maxBucketSize)
    val l = d.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val r = d.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    l.join(r, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        V.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // ------------------------------------------------- cluster resolution

  /** Both directions of an undirected edge list. */
  private def symmetrize(e: DataFrame): DataFrame =
    e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))

  /** min(Γ(u) ∪ {u}) per node — a map-side-combinable aggregate, never a
    * collected adjacency list, so a hot node costs its edge count. */
  private def nbrMin(sym: DataFrame): DataFrame =
    sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))

  /** Large-star: attach every neighbor v > u to m = min(Γ(u) ∪ {u}). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = symmetrize(e)
    sym.join(nbrMin(sym), "u")
      .filter(col("v") > col("u"))
      // m ≤ u < v, so (m, v) is already in canonical (small, large) order
      .select(col("m").as("a"), col("v").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Small-star: attach every neighbor v < u, and u itself, to
    * m = min(Γ(u) ∪ {u}). (When v < u exists, the global neighborhood
    * min is itself ≤ v, so one aggregate serves both stars.) */
  private def smallStar(e: DataFrame): DataFrame = {
    val sym = symmetrize(e)
    val mins = nbrMin(sym)
    sym.filter(col("v") < col("u")).join(mins, "u")
      .select(col("m").as("a"), col("v").as("b"))
      .union(mins.select(col("m").as("a"), col("u").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Connected components over an undirected pair list, by alternating
    * large-star / small-star rounds (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14). Each round is two shuffles — a
    * per-node neighborhood-min aggregate and an equi-join back onto the
    * edge list — with no adjacency-list materialization and no driver-side
    * graph state, and the alternation converges in O(log n) rounds, so the
    * same loop that resolves 500 documents resolves a 100 TB corpus's dup
    * graph. This is the step that turns near-dup PAIRS (minhashLsh /
    * simhash / ngramJaccard / embeddingCosine output) into disjoint
    * duplicate CLUSTERS a pipeline can act on.
    *
    * Returns one row per node appearing in `pairs`: (id, component), where
    * `component` is the smallest node id in the node's component. Rounds
    * are eagerly local-checkpointed so plan depth stays constant however
    * many iterations run. */
  def connectedComponents(pairs: DataFrame, idACol: String = "id_a",
                          idBCol: String = "id_b",
                          maxIter: Int = 30,
                          smallGraphEdges: Long = 1L << 17): DataFrame = {
    // order-insensitive content fingerprint of a distinct edge set
    // (count, xor of row hashes) — one cheap aggregate per round
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(a, b))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)
    def release(df: DataFrame): Unit = df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(false)
      case _ => df.unpersist(false)
    }

    var edges = materialize(pairs
      .filter(col(idACol).isNotNull && col(idBCol).isNotNull)
      .select(least(col(idACol), col(idBCol)).as("a"),
        greatest(col(idACol), col(idBCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    var fp = fingerprint(edges)
    // Bounded small-graph fast path: the fingerprint has already COUNTED
    // the distinct edge set, so when it is broadcast-class (≤ 2^17 pairs
    // of ids ≈ a few MB — the same size class as a broadcast dim table),
    // a driver union-find replaces the star rounds. Each star round is a
    // full stage barrier (2 shuffles + fingerprint + checkpoint, ~0.5s of
    // scheduling floor locally and worse on a cluster), and near-dup
    // graphs are usually tiny relative to the corpus — q57 spent ~3.5s of
    // its 4.7s on rounds over a few hundred edges. This is NOT unbounded
    // driver graph state: one row over the bound and the checkpointed
    // rounds run exactly as before (set `smallGraphEdges = 0` to force
    // them — the specs cover both paths).
    // the fast path is only taken for id types whose JVM ordering
    // provably matches SQL min() ordering (integral, string); anything
    // else — binary, decimal, struct ids — keeps the star rounds, which
    // handle every type least/greatest/min supports
    val idTypeOk = {
      import org.apache.spark.sql.types._
      edges.schema("a").dataType match {
        case LongType | IntegerType | ShortType | ByteType |
             StringType => true
        case _ => false
      }
    }
    if (fp._1 > 0 && fp._1 <= smallGraphEdges && idTypeOk) {
      val spark = pairs.sparkSession
      val idType = edges.schema("a").dataType
      val rows = edges.select("a", "b").collect()
      release(edges)
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.containsKey(r)) r = parent.get(r)
        // path compression: point every node on the walk at the root
        var c = x
        while (parent.containsKey(c)) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      // union by the SAME ordering SQL's min() uses for the id type, so
      // the surviving root IS the component minimum — no second pass.
      // Strings must compare as UTF-8 BYTES (unsigned), not UTF-16 code
      // units: Spark's UTF8String orders by code point, and the two
      // orders diverge when supplementary characters (U+10000+, lead
      // surrogates 0xD800+) mix with BMP chars in [U+E000, U+FFFF]
      def utf8Lt(a: String, b: String): Boolean = {
        val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c < 0
          i += 1
        }
        x.length < y.length
      }
      def lt(x: Any, y: Any): Boolean = (x, y) match {
        case (a: Long, b: Long)     => a < b
        case (a: Int, b: Int)       => a < b
        case (a: Short, b: Short)   => a < b
        case (a: Byte, b: Byte)     => a < b
        case (a: String, b: String) => utf8Lt(a, b)
        case _ => throw new IllegalStateException(
          s"unexpected id runtime type ${x.getClass} — idTypeOk gate broken")
      }
      rows.foreach { r =>
        val (ra, rb) = (find(r.get(0)), find(r.get(1)))
        if (ra != rb) {
          if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val nodes = new java.util.HashSet[Any]()
      rows.foreach { r => nodes.add(r.get(0)); nodes.add(r.get(1)); () }
      val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
      nodes.forEach { n =>
        out.add(org.apache.spark.sql.Row(n, find(n))); ()
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("component", idType)))
      return spark.createDataFrame(out, schema)
    }
    var it = 0
    var converged = fp._1 == 0L
    while (!converged && it < maxIter) {
      val next = materialize(smallStar(largeStar(edges)))
      val nfp = fingerprint(next)
      release(edges)
      edges = next
      converged = nfp == fp
      fp = nfp
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(O(log n) expected; raise maxIter)")
    // converged state is a forest of stars centered at each component min
    edges.select(col("b").as("id"), col("a").as("component"))
      .union(edges.select(col("a").as("id"), col("a").as("component")))
      .groupBy("id").agg(min("component").as("component"))
  }

  /** Resolve near-dup pairs into actionable per-document decisions: every
    * document gets its duplicate-cluster id (its own id when unpaired),
    * the cluster size, and the cluster's canonical keeper — the member
    * with the highest `priorityCol` (e.g. token count), ties broken by
    * smallest id. A training pipeline keeps `doc_id == canonical_id` rows.
    *
    * Canonical selection is two hash aggregates plus equi-joins — max
    * priority per component, then min id among the maxima — never a
    * per-component window sort, so one degenerate mega-cluster cannot
    * funnel into a single task. */
  def resolveClusters(docs: DataFrame, pairs: DataFrame, idCol: String,
                      priorityCol: Column,
                      idACol: String = "id_a", idBCol: String = "id_b",
                      maxIter: Int = 30): DataFrame = {
    val cc = connectedComponents(pairs, idACol, idBCol, maxIter)
    // null priorities sink to -inf instead of poisoning max(): with a
    // raw null, `_prio === _maxp` is never true for an all-null
    // component and the inner canon join would DROP those docs
    val base = docs.select(col(idCol),
      coalesce(priorityCol.cast("double"),
        lit(Double.NegativeInfinity)).as("_prio"))
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val best = base.groupBy("component").agg(
      count(lit(1)).as("cluster_size"), max(col("_prio")).as("_maxp"))
    val canon = base.join(best, "component")
      .filter(col("_prio") === col("_maxp"))
      .groupBy("component").agg(min(col(idCol)).as("canonical_id"))
    base.join(best.select("component", "cluster_size"), "component")
      .join(canon, "component")
      .select(col(idCol), col("component"), col("cluster_size"),
        col("canonical_id"))
  }

  /** Per-document duplicated-passage fraction: the share of a doc's
    * DISTINCT n-token shingles that appear in at least one other doc.
    * The hash-count approximation of exact-substring dedup (Lee et al.
    * 2022 build suffix arrays; at corpus scale the shingle
    * document-frequency join is the shape that survives): one shingle
    * explode → one (shingle → doc count) aggregate → one join back,
    * never a pairwise comparison. A doc with no shingles (< n tokens)
    * scores 0.
    *
    * Output: `(idCol, n_shingles, n_duplicated, dup_fraction)` with the
    * fraction rounded 6dp. Downstream: filter high fractions out, or
    * feed the flagged docs to [[ngramJaccard]] for pair resolution. */
  /** Cross-document passage-dedup REWRITE — the transform sibling of
    * [[duplicatePassages]] (which only scores): split every document
    * into passages on `sep`, keep each distinct passage's globally
    * FIRST occurrence only (first = smallest `(doc id, position)` — the
    * paragraph-dedup rule of public corpus pipelines: CCNet, Dolma),
    * and reassemble each document from its surviving passages in
    * original order. A passage repeated within one document also keeps
    * only its first instance.
    *
    * Scale shape: explode → ONE hash aggregate on the passage hash
    * (keeper = `min(struct(doc, idx))`, map-side combinable — never a
    * per-passage window over the corpus) → equi-join back on the hash →
    * per-doc ordered reassembly from collected `(idx, passage)` structs
    * (bounded by the doc's own passage count, the same per-doc bound
    * every text function here lives with). Passage text rides the
    * shuffle once (inside the join), the aggregate itself carries only
    * `(hash, doc, idx)`.
    *
    * Output: `(idCol, n_passages, n_kept, text_out)` — `text_out` is
    * the rebuilt document ("" when nothing survives). */
  def dropRepeatedPassages(df: DataFrame, idCol: String, textCol: String,
                           sep: String = ". "): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    val ex = df.select(col(idCol).as("_id"),
        posexplode(split(col(textCol), quoted)).as(Seq("_idx", "_p")))
      .withColumn("_h", md5(col("_p")))
    val firsts = ex.groupBy("_h")
      .agg(min(struct(col("_id"), col("_idx"))).as("_first"))
    ex.join(firsts, Seq("_h"))
      .withColumn("_keep",
        col("_first._id") === col("_id") && col("_first._idx") === col("_idx"))
      .groupBy(col("_id").as(idCol))
      .agg(count(lit(1)).as("n_passages"),
        sum(col("_keep").cast("long")).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("_keep"),
            struct(col("_idx"), col("_p"))))),
          s => s.getField("_p")), sep).as("text_out"))
  }

  def duplicatePassages(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3): DataFrame = {
    val ex = df.select(col(idCol).as("_id"),
      explode_outer(TF.distinctShingles(col(textCol), n)).as("_sh"))
    val docFreq = ex.filter(col("_sh").isNotNull)
      .groupBy("_sh").agg(count(lit(1)).as("_df"))
    ex.join(docFreq, Seq("_sh"), "left")
      .groupBy(col("_id").as(idCol))
      .agg(count(col("_sh")).as("n_shingles"),
        sum(when(col("_df") >= 2, 1L).otherwise(0L)).as("n_duplicated"))
      .select(col(idCol), col("n_shingles"), col("n_duplicated"),
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(round(
            col("n_duplicated").cast("double") / col("n_shingles")
              + lit(1e-9), 6)).as("dup_fraction"))
  }

  /** Cross-document repeated SPANS — the span-level sibling of
    * [[duplicatePassages]] (which only scores a fraction): for every
    * document, the maximal token ranges covered by n-token shingles
    * that also appear in at least `minDocs − 1` OTHER documents. This
    * is the shingle-join realization of exact-substring training-data
    * dedup (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022 — the suffix-array construction there is
    * single-machine; the distributed shape is position-aware shingles +
    * one frequency join).
    *
    * Plan: positioned shingles (map-side) → cross-doc shingle set (two
    * hash aggregates over DISTINCT (doc, shingle)) → semi join back →
    * per-document overlap-merge of hit positions (hits at p and q
    * overlap iff q ≤ p + n − 1) via one doc-partitioned window —
    * document-local state, bounded by the document's own token count,
    * the same boundedness as chunking/sessionization. All-integer
    * output: (doc_id, span_start, span_end, n_hits), token-indexed,
    * end inclusive. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, minDocs: Int = 2): DataFrame = {
    require(n >= 1 && minDocs >= 2)
    val sh = docs.select(col(idCol).as("doc_id"),
        posexplode(TF.shingles(col(textCol), n)).as(Seq("pos", "sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = sh.select("doc_id", "sh").distinct()
      .groupBy("sh").agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= minDocs).select("sh")
    val hits = sh.join(dup, Seq("sh"), "left_semi").select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val prev = lag(col("pos"), 1).over(w)
    hits
      .withColumn("_new",
        when(prev.isNull || col("pos") > prev + lit(n - 1), 1).otherwise(0))
      .withColumn("_isl", sum(col("_new")).over(w))
      .groupBy(col("doc_id"), col("_isl"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(n - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_hits"))
      .select("doc_id", "span_start", "span_end", "n_hits")
  }
}
