package graft

import graft.Fleet.inParallel
import graft.FleetFamily._
import graft.{FleetFixture => FX}
import graft.functions.{TextFunctions => TF, VectorOps => V}
import graft.operators._
import graft.util.Exact._
import graft.util.{ExecProfile, TempDirs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB oracle for everything SQL-expressible.
  *
  * Cross-engine determinism strategy (why results hash-match bit for bit):
  *   - every floating-point SUM/AVG goes through fixed-point decimals
  *     (see [[graft.util.Exact]]) so aggregation order doesn't matter;
  *   - every "random" choice (sampling, reservoirs, LSH) is an md5 hash of
  *     the row's unique id — identical in any engine;
  *   - every window ordering includes a unique tie-breaker column.
  */
object SparkEntry {
  private val T = Tables

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q13_region_revenue(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- helpers

  /** lineitem revenue term, decimal-exact: price * (1 - discount). */
  private def revenueDec: Column =
    dec(col("l_extendedprice"), 12, 4) * dec(lit(1) - col("l_discount"), 12, 4)

  /** Session confs of a FIXTURE-SCALE lifecycle gate: AQE off and a
    * narrow shuffle width. These gates measure persisted-index state
    * machines on few-row planted corpora, where wall time is pure Spark
    * scheduling floor: AQE turns every exchange of every
    * probe/health/compact plan into its own stage-job (q254 ran 295
    * jobs on a 4-row fixture — 60-90 ms of scheduler latency each),
    * buying nothing because there is no data to re-plan around.
    * Semantics are unchanged (AQE is an execution strategy), so the
    * gate's rows stay hash-identical; the production-scale probes keep
    * AQE — only the gates whose data is constant-size by construction
    * run under these confs. */
  private val FixtureConfs = Map(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "4",
    // constructed-fixture gates run dozens of DISTINCT lifecycle plans
    // over ≤ ~20-row planted states: janino-compiling kilobytes of
    // whole-stage Java per plan costs far more than interpreting the
    // handful of rows ever saves (q258 warm job-time sum 9-14 s with
    // codegen vs 5.2 s interpreted). Scale-honest because these gates'
    // inputs are constant-size BY CONSTRUCTION (decades flat) — the
    // data-bearing queries keep codegen on.
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    // every BroadcastExchange materializes through its OWN job — at
    // fixture scale a single lifecycle action's plan carries dozens of
    // auto-broadcast tiny sides, so the gate's cost is ~one scheduler
    // round-trip per broadcast (q262: ~28 jobs per 5-doc admission
    // batch). 4-partition shuffle joins fold the same tiny joins into
    // the action's one job. Explicit broadcast() hints (load-bearing
    // at scale) are unaffected; join STRATEGY never changes rows.
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private def fixtureTuned[A](s: SparkSession)(body: => A): A =
    ExecProfile.withConfs(s, FixtureConfs)(body)

  /** Shuffle width of the streaming gates' `start()`: a stateful
    * query's state-store count is frozen from shuffle.partitions at
    * start, their key sets are small (q92: 150 users) and per-batch
    * overhead scales with store count (each micro-batch opens/commits
    * every store) — so they size it to the key cardinality scale. */
  private val StateStoreConfs = Map("spark.sql.shuffle.partitions" -> "8")

  /** The q29 query/corpus split of the embeddings table: vectors 0-4
    * are the queries (`qid`, `qv`), the rest the corpus (`id`, `v`).
    * Takes the loaded table, so a caller that also reads its labels
    * shares one load (a second load costs q159 one more Spark job). */
  private def knnSplit(emb: DataFrame): (DataFrame, DataFrame) =
    (emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv")),
     emb.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("id"), col("embedding").as("v")))

  /** The q116 base corpus: sources src0–src4. */
  private val BaseSrc = Seq("src0", "src1", "src2", "src3", "src4")

  /** Index the q116 base corpus into `dir` in two installments: built on
    * src0–src2, then src3–src4 appended (the lock/fragment install
    * path). Returns (the documents table, the base corpus). */
  private def baseIndex(s: SparkSession, d: String, f: FleetFamily,
                        dir: String): (DataFrame, DataFrame) = {
    val docs = T.documents(s, d)
    val base = docs.filter(col("source").isInCollection(BaseSrc))
    f.build(s, base.filter(col("source").isInCollection(Seq("src0", "src1",
      "src2"))), dir)
    f.append(s, dir,
      base.filter(col("source").isInCollection(Seq("src3", "src4"))))
    (docs, base)
  }

  /** Index the src0 benchmark suite's shingles into `dir` in two
    * installments: built on its even doc ids, then the odd ones
    * appended (the anti-join suite-update path). Returns the documents
    * table. */
  private def benchIndex(s: SparkSession, d: String, dir: String): DataFrame = {
    val docs = T.documents(s, d)
    val bench = docs.filter(col("source") === "src0")
    Decontam().build(s, bench.filter(pmod(col("doc_id"), lit(2L)) === 0), dir)
    Decontam().append(s, dir, bench.filter(pmod(col("doc_id"), lit(2L)) =!= 0))
    docs
  }

  /** The daily-ingest split of the documents table: (benchmark suite
    * src0, base corpus src1–src4, the day's batch src5+). */
  private def ingestSplit(s: SparkSession, d: String)
    : (DataFrame, DataFrame, DataFrame) = {
    val docs = T.documents(s, d)
    (docs.filter(col("source") === "src0"),
     docs.filter(col("source").isInCollection(BaseSrc.tail)),
     docs.filter(!col("source").isInCollection(BaseSrc)))
  }

  /** The admission kernel's three indexes, built concurrently with
    * `more`: exact-hash and MinHash over `base`, decontam over
    * `bench`. */
  private def admissionIndexes(s: SparkSession, idCol: String,
                               base: DataFrame, bench: DataFrame,
                               exDir: String, mhDir: String, dcDir: String,
                               more: (() => Unit)*): Unit =
    Fleet.build(s, Seq((Exact(idCol), base, exDir),
      (MinHash(idCol), base, mhDir), (Decontam(), bench, dcDir)), more: _*)

  /** The SemDeDup state of the embeddings table (q237's clustering). */
  private val EmbSem = SemDeDup(k = 16, idCol = "vec_id",
    vecCol = "embedding")

  /** A SemDeDup state frozen at k=1 over [[FleetFixture.groups3]]: one
    * hot cluster by construction. */
  private val GroupSem = SemDeDup(k = 1, idCol = "vid", vecCol = "embedding")

  // ------------------------------------------------------- relational (§2.3/2.4)

  /** A1/A4-family: grouped aggregation with exact decimal sums. */
  def q01_pricing_summary(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sumExact(col("l_quantity"), 18, 2).as("sum_qty"),
        sumExact(col("l_extendedprice"), 18, 4).as("sum_base_price"),
        round(sum(revenueDec), 2).cast("double").as("sum_disc_price"),
        round(sum(revenueDec * dec(lit(1) + col("l_tax"), 12, 4)), 2)
          .cast("double").as("sum_charge"),
        avgExact(col("l_quantity"), 18, 2).as("avg_qty"),
        avgExact(col("l_extendedprice"), 18, 4).as("avg_price"),
        avgExact(col("l_discount"), 18, 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** A4: per-column feature summarization (count/nnz/min/max/sum/mean/L1) —
    * the reference's FeatureDataStatistics over scalar columns. */
  def q02_column_stats(s: SparkSession, d: String): DataFrame = {
    val li = T.lineitem(s, d)
    // every column's stats in ONE aggregate scan (a union of per-column
    // aggregates would scan lineitem once per column), melted back to a
    // row per column
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) => Seq(
      count(lit(1)).as(s"_n_$i"),
      sum(when(col(c) =!= 0.0, 1L).otherwise(0L)).as(s"_nz_$i"),
      min(col(c)).as(s"_mn_$i"), max(col(c)).as(s"_mx_$i"),
      sumExact(col(c), 18, 6).as(s"_s_$i"),
      avgExact(col(c), 18, 6).as(s"_a_$i"),
      sumExact(abs(col(c)), 18, 6).as(s"_l1_$i"))
    }
    li.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("feature"), col(s"_n_$i").as("n"),
          col(s"_nz_$i").as("n_nonzero"), col(s"_mn_$i").as("vmin"),
          col(s"_mx_$i").as("vmax"), col(s"_s_$i").as("vsum"),
          col(s"_a_$i").as("vmean"), col(s"_l1_$i").as("l1"))
      }: _*)).as("r"))
      .select("r.*")
  }

  /** J1: broadcast hash join (small dim side) + grouped revenue. */
  def q03_brand_revenue(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .join(broadcast(T.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(round(sum(revenueDec), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** J5/P6: left-outer score attach with missing→0 (addScoresToOffsets). */
  def q04_offset_plus_scores(s: SparkSession, d: String): DataFrame = {
    val scores = T.lineitem(s, d).groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(round(sum(revenueDec), 2).cast("double").as("score"))
    val withOffsets = ScoreAlgebra.addToOffsets(
      T.orders(s, d).withColumn("offset",
        dec(col("o_totalprice"), 18, 4).cast("double")),
      scores, "o_orderkey")
    withOffsets.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sumExact(col("offset"), 18, 4).as("sum_offset"))
  }

  /** J4: full-outer score addition (CoordinateDataScores `+`). */
  def q05_score_add(s: SparkSession, d: String): DataFrame = {
    val s1 = T.customer(s, d).select(col("c_custkey").as("custkey"),
      col("c_acctbal").as("score"))
    val s2 = T.orders(s, d).groupBy(col("o_custkey").as("custkey"))
      .agg(sumExact(col("o_totalprice"), 18, 4).as("score"))
    ScoreAlgebra.add(s1, s2, "custkey")
  }

  /** J6: anti join — customers with no orders (generatePassiveData). */
  def q06_customers_no_orders(s: SparkSession, d: String): DataFrame =
    T.customer(s, d)
      .join(T.orders(s, d), col("c_custkey") === col("o_custkey"),
        "left_anti")
      .select("c_custkey", "c_name")

  /** J7: semi join — parts that appear in lineitem, counted per brand. */
  def q07_brands_with_sales(s: SparkSession, d: String): DataFrame =
    T.part(s, d)
      .join(T.lineitem(s, d), col("p_partkey") === col("l_partkey"),
        "left_semi")
      .groupBy("p_brand").agg(count(lit(1)).as("n_parts"))

  /** O2/O3: top-K per group by explicit order with tie-break. */
  def q08_topk_per_order(s: SparkSession, d: String): DataFrame =
    GroupedSampling.topKPerGroup(T.lineitem(s, d), Seq("l_orderkey"),
      Seq(col("l_extendedprice").desc, col("l_linenumber")), 2)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")

  /** A7/E9: per-group metric then mean across groups. */
  def q09_grouped_mean(s: SparkSession, d: String): DataFrame = {
    val per = T.orders(s, d).groupBy("o_custkey")
      .agg(sum(dec(col("o_totalprice"), 18, 4)).as("total"),
        count(lit(1)).as("n_orders"))
    per.agg(count(lit(1)).as("n_customers"),
      (sum(col("total")).cast("double") / count(lit(1)))
        .as("mean_customer_total"),
      (sum(col("n_orders")).cast("double") / count(lit(1)))
        .as("mean_orders_per_customer"))
  }

  /** U4/A9: distinct. */
  def q10_distinct_flags(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d).select("l_returnflag", "l_linestatus").distinct()

  /** U3: union of two sources into one keyed table. */
  def q11_union_parties(s: SparkSession, d: String): DataFrame = {
    val c = T.customer(s, d).select(col("c_custkey").as("id"),
      col("c_name").as("name"), col("c_acctbal").as("acctbal"),
      lit("customer").as("kind"))
    val sp = T.supplier(s, d).select(col("s_suppkey").as("id"),
      col("s_name").as("name"), col("s_acctbal").as("acctbal"),
      lit("supplier").as("kind"))
    c.unionAll(sp)
  }

  /** U2: set difference (subtractByKey). */
  def q12_except_custkeys(s: SparkSession, d: String): DataFrame =
    T.customer(s, d).select(col("c_custkey").as("custkey"))
      .except(T.orders(s, d).select(col("o_custkey").as("custkey")))

  /** Lifecycle query: 5-table join with date filter; nation/region
    * broadcast; filter pushed to the orders scan. */
  def q13_region_revenue(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .join(T.orders(s, d).filter(year(col("o_orderdate")) === 1996),
        col("l_orderkey") === col("o_orderkey"))
      .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(T.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(round(sum(revenueDec), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** O1: deterministic running sum (window, total order). */
  def q14_running_sum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    T.lineitem(s, d).filter(col("l_suppkey") <= 2)
      .withColumn("running",
        sum(dec(col("l_quantity"), 18, 2)).over(w).cast("double"))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running")
  }

  /** P3: one-pass data validation (violation counts per rule). */
  def q15_validators(s: SparkSession, d: String): DataFrame =
    Validators.check(T.lineitem(s, d), Seq(
      Validators.Rule("nonpositive_price", col("l_extendedprice") <= 0),
      Validators.Rule("null_quantity", col("l_quantity").isNull),
      Validators.Rule("discount_out_of_range",
        col("l_discount") < 0 || col("l_discount") > 1),
      Validators.Rule("negative_tax", col("l_tax") < 0),
      Validators.Rule("bad_flag",
        !col("l_returnflag").isInCollection(Seq("A", "N", "R")))))

  /** S6/F14: date-range scan + daily rollup (partition-pruning shape). */
  def q16_daily_events(s: SparkSession, d: String): DataFrame =
    T.events(s, d)
      .filter(col("ts") >= lit("2024-01-10 00:00:00") &&
        col("ts") < lit("2024-01-20 00:00:00"))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"), sumExact(col("value"), 18, 6).as("sum_value"))

  /** Streaming-shaped tumbling window over event time (batch equivalent of
    * the Structured Streaming windowed agg in graft.streaming). */
  def q17_tumbling_window(s: SparkSession, d: String): DataFrame =
    T.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        floor(hour(col("ts")) / 6).cast("int").as("h6"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sumExact(col("value"), 18, 6).as("sum_value"))

  /** A6/O3/X10: deterministic bounded per-group reservoir with weight
    * rescale (photon's RandomEffectDataset sampling semantics). */
  def q18_reservoir(s: SparkSession, d: String): DataFrame =
    // lineitem carries duplicate (l_orderkey, l_linenumber) uids, and
    // boundedSample's exact-cap admission disambiguates duplicate uids
    // by content hash. The dup copies differ in (l_extendedprice,
    // l_quantity) — hashing just those two via distinguishCols keeps the
    // admission order total (exact cap, no window stage) while letting
    // column pruning cut the scan from 11 columns to 4
    GroupedSampling.boundedSample(
      T.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
      Seq("l_orderkey"),
      Seq("l_orderkey", "l_linenumber"), cap = 2,
      // the group domain is orders — broadcast-sized at any SF ratio
      // that fits a driver; the big side then never shuffles
      broadcastThresholds = true,
      distinguishCols = Seq("l_extendedprice", "l_quantity"))
      .select("l_orderkey", "l_linenumber", "weight_scale")

  /** L14: class-aware down-sampling with weight compensation. */
  def q19_binary_downsample(s: SparkSession, d: String): DataFrame =
    DownSampling.binaryClass(
      T.events(s, d).withColumn("weight", lit(1.0)),
      Seq("event_id"), col("event_type") === "purchase", rate = 0.25)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"), sumExact(col("weight"), 18, 6)
        .as("sum_weight"))

  /** L14 uniform variant: deterministic hash-fraction sampling. */
  def q46_uniform_downsample(s: SparkSession, d: String): DataFrame =
    DownSampling.uniform(T.events(s, d), Seq("event_id"), rate = 0.1)
      .select("event_id")

  // ------------------------------------------------ text / dedup (training-data ops)

  /** Exact dedup by content hash. */
  def q20_dedup_exact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(T.documents(s, d), "doc_id", "text")

  /** Token counting. */
  def q21_token_count(s: SparkSession, d: String): DataFrame =
    T.documents(s, d).select(col("doc_id"),
      TF.tokenCount(col("text")).as("n_tokens"),
      length(col("text")).as("n_chars_measured"))

  /** Quality scoring: stopword ratio + mean token length. */
  def q22_text_quality(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "of", "to", "and", "in", "is")
    T.documents(s, d).select(col("doc_id"),
      TF.tokenCount(col("text")).as("n_tokens"),
      TF.stopwordRatio(col("text"), stop).as("stopword_ratio"),
      TF.meanTokenLen(col("text")).as("mean_token_len"))
  }

  /** Language ID heuristic (stopword hits, deterministic tie-break). */
  def q23_lang_id(s: SparkSession, d: String): DataFrame =
    T.documents(s, d).select(col("doc_id"),
      TF.langId(col("text")).as("lang_guess"))

  /** Corpus-cleaning composition: token floor + language whitelist +
    * exact dedup (keep lowest id) in one pipeline. */
  def q44_clean_corpus(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusPipeline.clean(T.documents(s, d), "doc_id",
      "text", minTokens = 5, langs = Seq("en", "fr"))

  /** Repetition quality signals (Gopher-style): duplicate-token fraction
    * plus the share of the most frequent unigram/bigram. One linear pass
    * per doc, zero shuffle — the filters a corpus pipeline runs before
    * anything expensive. */
  def q56_repetition(s: SparkSession, d: String): DataFrame =
    T.documents(s, d).select(col("doc_id"),
      round(TF.duplicateNgramFraction(col("text"), 1) + 1e-9, 6)
        .as("dup_token_frac"),
      round(TF.topNgramFraction(col("text"), 1) + 1e-9, 6)
        .as("top_token_frac"),
      round(TF.topNgramFraction(col("text"), 2) + 1e-9, 6)
        .as("top_bigram_frac"))

  /** Near-dup cluster resolution: the q26 Jaccard pair graph resolved
    * into disjoint duplicate clusters (large-star/small-star connected
    * components), each with a size and a canonical keeper (longest doc,
    * ties → smallest id). The step that turns pair output into the
    * keep/drop decision a dedup pipeline actually applies. */
  def q57_dup_clusters(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", "source",
      n = 3, threshold = 0.01)
    Dedup.resolveClusters(docs, pairs, "doc_id",
      priorityCol = TF.tokenCount(col("text")))
  }

  /** Benchmark decontamination: 3-gram overlap of every candidate doc
    * against the src0 "benchmark" set (broadcast shingle semi-join). */
  def q58_decontam(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    Decontamination.report(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      "doc_id", "text", n = 3)
  }

  /** Deterministic hash-based train/val/test assignment (80/10/10). */
  def q60_split_assign(s: SparkSession, d: String): DataFrame =
    Splits.withSplit(T.documents(s, d).select("doc_id"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  /** Top-3 TF-IDF terms per document (integer-exact ranking). */
  def q61_tfidf(s: SparkSession, d: String): DataFrame =
    TextRanking.topTfIdfTerms(T.documents(s, d), "doc_id", "text", k = 3)

  /** Corpus-trained bigram-LM quality score per document (the perplexity
    * filter shape: train counts once, score per row). */
  def q62_bigram_lm(s: SparkSession, d: String): DataFrame =
    TextRanking.bigramLmScore(T.documents(s, d), "doc_id", "text")

  /** Text normalization pipeline: case-fold, strip non-alphanumerics,
    * collapse whitespace — pure codegen'd string expressions, zero
    * shuffle (fingerprinted so the oracle compares content exactly). */
  def q76_normalize(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    T.documents(s, d).select(col("doc_id"),
      md5(norm).as("norm_hash"), length(norm).as("n_chars_norm"))
  }

  /** Incremental dedup: treat src0-src4 as the existing corpus and the
    * rest as an ingest batch — which delta docs survive (content not in
    * base, first of their hash within the delta)? */
  def q81_incremental_dedup(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    val base = docs.filter(col("source").isInCollection(BaseSrc))
    val delta = docs.filter(!col("source").isInCollection(BaseSrc))
    Dedup.incrementalExact(delta, base, "doc_id", "text")
  }

  /** Directional containment (asymmetric Jaccard): partial-duplication
    * detection — doc a substantially contained in doc b. */
  def q84_containment(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(T.documents(s, d), "doc_id", "text", "source",
      n = 3, threshold = 0.05)

  /** Co-occurrence mining (the 2-itemset level of frequent-pattern
    * mining, done relationally): token pairs appearing together in at
    * least `minSupport` documents. Distinct tokens per doc → ordered
    * self-join on doc → map-side-combinable pair counts; candidate
    * volume is Σ (tokens/doc)², bounded by document length, never
    * vocabulary². */
  def q90_cooccurrence(s: SparkSession, d: String): DataFrame = {
    val tok = T.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(TF.tokens(col("text")))).as("t"))
    tok.select(col("doc_id"), col("t").as("t_a"))
      .join(tok.select(col("doc_id"), col("t").as("t_b")), Seq("doc_id"))
      .filter(col("t_a") < col("t_b"))
      .groupBy("t_a", "t_b").agg(count(lit(1)).as("support"))
      .filter(col("support") >= 320)
  }

  /** Triangle counting over the near-dup pair graph (per source block):
    * a three-way self-join of the canonically-ordered edge list — the
    * graph-analytics shape beyond connected components, and a cluster-
    * density signal (triangles ≈ tight dup families, paths ≈ chains).
    * Each join is an equi-join on a single vertex; candidate wedges are
    * bounded by Σ degree², never |V|³. */
  def q88_triangles(s: SparkSession, d: String): DataFrame = {
    val e = Dedup.ngramJaccard(T.documents(s, d), "doc_id", "text",
      "source", n = 3, threshold = 0.05)
      .select(col("block"), col("id_a").as("a"), col("id_b").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // edges are (a < b): wedge a<b<c exists iff (a,b) and (b,c) are
    // edges; it closes iff (a,c) is too
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.block") === col("e2.block") &&
        col("e1.b") === col("e2.a"))
      .join(e.as("e3"), col("e2.block") === col("e3.block") &&
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .groupBy(col("e1.block").as("block"))
      .agg(count(lit(1)).as("n_triangles"))
    e.select(col("block")).distinct()
      .join(tri, Seq("block"), "left")
      .select(col("block"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** The flagship end-to-end corpus pipeline, every stage an operator
    * this library ships: quality clean (token floor + language whitelist
    * + exact dedup) → near-dup cluster resolution (keep the canonical
    * doc per cluster) → benchmark decontamination → per-language
    * manifest. One DuckDB oracle mirrors the whole chain. */
  def q83_full_pipeline(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    val bench = docs.filter(col("source") === "src0")
    val corpus = docs.filter(col("source") =!= "src0")
    // the cleaned set feeds pair generation, cluster resolution, the
    // survivor join, and decontamination — materialize once
    val cleaned = corpus.join(
      CorpusPipeline.clean(corpus, "doc_id", "text", minTokens = 5,
        langs = Seq("en", "fr")).select("doc_id", "n_tokens", "lang_guess"),
      "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = Dedup.ngramJaccard(cleaned, "doc_id", "text", "source",
      n = 3, threshold = 0.1)
    val keepers = Dedup.resolveClusters(cleaned, pairs, "doc_id",
      priorityCol = TF.tokenCount(col("text")))
      .filter(col("doc_id") === col("canonical_id")).select("doc_id")
    val survivors = cleaned.join(keepers, "doc_id")
    Decontamination.clean(survivors, bench, "doc_id", "text", n = 3)
      .groupBy("lang_guess")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"))
  }

  /** Cross-doc passage-dedup rewrite ([[operators.Dedup
    * .dropRepeatedPassages]]): every distinct passage survives only at
    * its globally-first (doc_id, position); documents are reassembled
    * from their surviving passages. Rebuilt text compared by md5. */
  def q210_passage_rewrite(s: SparkSession, d: String): DataFrame =
    Dedup.dropRepeatedPassages(T.documents(s, d), "doc_id", "text")
      .select(col("doc_id"), col("n_passages"), col("n_kept"),
        md5(col("text_out")).as("text_hash"))

  /** Sliding-window chunking: 32-token windows every 16 tokens (50%
    * overlap), fingerprinted per chunk. */
  def q82_chunking(s: SparkSession, d: String): DataFrame =
    Chunking.chunk(T.documents(s, d), "doc_id", "text",
      chunkTokens = 32, stride = 16)
      .select(col("doc_id"), col("chunk_idx"),
        md5(col("chunk_text")).as("chunk_hash"), col("n_tokens"))

  /** Training-sequence packing manifest: docs → ≤256-token sequences in
    * 8 parallel bucket streams (greedy cumulative cut, hash order). */
  def q80_sequence_packing(s: SparkSession, d: String): DataFrame =
    SequencePacking.manifest(T.documents(s, d), "doc_id", "text",
      maxTokens = 256, nBuckets = 8)

  /** Document fingerprinting. */
  def q24_fingerprint(s: SparkSession, d: String): DataFrame =
    T.documents(s, d).select(col("doc_id"),
      TF.fingerprint(col("text")).as("fp"))

  /** Shingling stats (n-gram generation + distinct). */
  def q25_shingle_stats(s: SparkSession, d: String): DataFrame =
    // n_shingles ≡ size(shingles) but needs only the token COUNT —
    // building the shingle strings for it would double the string work
    // (higher-order expressions are outside codegen subexpression
    // elimination, so size(shingles) + size(distinctShingles) would
    // materialize the array twice)
    T.documents(s, d).select(col("doc_id"),
      greatest(lit(0), TF.tokenCount(col("text")) - 2).as("n_shingles"),
      size(TF.distinctShingles(col("text"), 3)).as("n_distinct_shingles"))

  /** n-gram Jaccard near-dup pairs within a blocking key. */
  def q26_jaccard_pairs(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccard(T.documents(s, d), "doc_id", "text", "source",
      n = 3, threshold = 0.01)

  /** MinHash signatures (4 hashes) + first LSH band bucket. */
  def q27_minhash(s: SparkSession, d: String): DataFrame = {
    val sig = TF.minhashSignature(col("text"), 3, 4)
    T.documents(s, d).select(col("doc_id"),
      element_at(sig, 1).as("mh0"), element_at(sig, 2).as("mh1"),
      element_at(sig, 3).as("mh2"), element_at(sig, 4).as("mh3"),
      TF.lshBand(sig, 0, 2).as("band0"))
  }

  /** LSH bucket occupancy (candidate generation stage of MinHash dedup). */
  def q28_lsh_buckets(s: SparkSession, d: String): DataFrame = {
    val sig = TF.minhashSignature(col("text"), 3, 4)
    T.documents(s, d).select(TF.lshBand(sig, 0, 2).as("band0"))
      .groupBy("band0").agg(count(lit(1)).as("n_docs"))
  }

  // ------------------------------------------------------ similarity search

  /** Brute-force exact cosine top-k (ANN baseline). */
  def q29_knn_brute(s: SparkSession, d: String): DataFrame = {
    val (queries, corpus) = knnSplit(T.embeddings(s, d))
    Similarity.bruteForce(queries, corpus, 3)
      .select(col("qid"), col("rank"), col("id"), col("cosine"))
  }

  /** Sessionization (stateful streaming analog, batch windows). */
  def q30_sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    T.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL '30' MINUTE"), 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("new_session")).as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  /** As-of (point-in-time) join: each click event gets the value of the
    * most recent prior-or-simultaneous view by the same user — the
    * feature-lookup join a training pipeline runs against a slowly
    * updating signal. One shuffle (union + per-key sort), no per-row
    * backward probe. */
  def q59_asof_join(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "ts", "event_id", "value")
    EventJoins.asOf(clicks, views, Seq("user_id"), "ts", "event_id")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("value").as("last_view_value"))
  }

  /** Bounded range join: per error event, count + exact sum of click
    * values by the same user in the preceding hour. Bucketized by the
    * window width so candidates are an equi-join, never a per-user cross
    * product. */
  def q64_range_join(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    EventJoins.rangeAgg(
      ev.filter(col("event_type") === "error"),
      ev.filter(col("event_type") === "click"),
      Seq("user_id"), "event_id", "ts", 3600L, "value")
      .withColumnRenamed("event_id", "error_id")
  }

  /** Semi-structured column handling: JSON property extraction (codegen
    * path evaluation, no UDF) feeding a grouped aggregate. */
  def q63_json_extract(s: SparkSession, d: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    T.events(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(k).as("k_sum"),
        round(sum(k).cast("double") / count(lit(1)) + lit(1e-9), 6)
          .as("k_avg"))
  }

  /** Exact-percentile column profiling (sort-based, order-statistics
    * interpolation) — the data-profiling pass a pipeline runs before
    * choosing normalizations and clip thresholds. Routed through
    * [[Profiling.exactQuantiles]] (range-partitioned parallel sort +
    * order-statistics lookup): Spark's built-in `percentile` aggregate
    * merges a value→count map on ONE reducer, which is a single-task
    * funnel for continuous columns at scale (measured 6 s vs 0.4 s at
    * sf0.1 — `operators/Profiling.scala`). */
  def q65_column_profile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = T.lineitem(s, d)
    // cardinality-adaptive: these columns resolve through the shared
    // value-counts scan; a continuous column would route to the
    // range-sort path with an identical result
    val qs = Profiling.exactQuantilesAuto(li,
      Seq("l_quantity", "l_discount", "l_tax"), Seq(0.25, 0.5, 0.75))
    Seq("l_quantity", "l_discount", "l_tax")
      .map(c => (c, qs(c)(0), qs(c)(1), qs(c)(2)))
      .toDF("col_name", "_p25", "_p50", "_p75")
      .select(col("col_name"),
        round(col("_p25") + lit(1e-9), 6).as("p25"),
        round(col("_p50") + lit(1e-9), 6).as("p50"),
        round(col("_p75") + lit(1e-9), 6).as("p75"))
  }

  /** Skew-safe two-phase aggregation: per-type event counts and exact
    * value sums through an 8-way salt — identical results to the direct
    * groupBy, but no reduce task sees more than ~1/8 of a hot key. */
  def q66_salted_agg(s: SparkSession, d: String): DataFrame =
    Skew.saltedAgg(T.events(s, d), Seq("event_type"), col("event_id"), 8,
      partial = Seq("_n" -> count(lit(1)),
        "_s" -> sum(dec(col("value"), 18, 2))),
      fin = Seq("n" -> sum(col("_n")),
        "value_sum" -> sum(col("_s")).cast("double")))

  /** Salted equi-join (hot-key mitigation): lineitem × part with the
    * part side replicated across 4 salts, then a brand rollup. Must be
    * row-for-row the plain join. */
  def q67_salted_join(s: SparkSession, d: String): DataFrame = {
    val li = T.lineitem(s, d)
      .select(col("l_partkey").as("partkey"), col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"))
    val p = T.part(s, d).select(col("p_partkey").as("partkey"),
      col("p_brand"))
    Skew.saltedJoin(li, p, "partkey",
      concat_ws("_", col("l_orderkey"), col("l_linenumber")), saltN = 4)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        sumExact(col("l_quantity"), 18, 2).as("sum_qty"))
  }

  /** IQR outlier report: Tukey's fences from parallel exact quartiles
    * (one order-statistics pass), outliers counted by a codegen'd
    * predicate — the data-quality screen before normalization. */
  def q89_iqr_outliers(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val q = Profiling.exactQuantiles(ev, "value", Seq(0.25, 0.75))
    val (q1, q3) = (q(0), q(1))
    val iqr = q3 - q1
    val lo = q1 - 1.5 * iqr
    val hi = q3 + 1.5 * iqr
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < lo || col("value") > hi, 1L)
          .otherwise(0L)).as("n_outliers"),
        round(lit(lo) + lit(1e-9), 6).as("fence_lo"),
        round(lit(hi) + lit(1e-9), 6).as("fence_hi"))
  }

  /** Robust (median/MAD) outlier screen — the modified-z-score sibling
    * of q89's Tukey fences, immune to the outliers it hunts: fences at
    * median ± 3.5·1.4826·MAD, both statistics from
    * [[Profiling.exactQuantiles]]'s range-partitioned parallel sort
    * (two passes; never the single-reducer percentile map). */
  def q108_mad_outliers(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val med = Profiling.exactQuantiles(ev, "value", Seq(0.5)).head
    val dev = ev.select(abs(col("value") - lit(med)).as("dev"))
    val mad = Profiling.exactQuantiles(dev, "dev", Seq(0.5)).head
    val lo = med - 3.5 * 1.4826 * mad
    val hi = med + 3.5 * 1.4826 * mad
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < lo || col("value") > hi, 1L)
          .otherwise(0L)).as("n_outliers"),
        round(lit(lo) + lit(1e-9), 6).as("fence_lo"),
        round(lit(hi) + lit(1e-9), 6).as("fence_hi"))
  }

  /** Exponentially-decayed trailing feature: per-user EWMA of the last
    * 10 event values as a LEFT FOLD (acc·0.9 + v) over the bounded
    * window frame — the recency-weighted sibling of q69's flat mean.
    * One shuffle on user_id, O(10) state per row; the sequential fold
    * gives both engines the identical IEEE evaluation order (a
    * Σ v·0.9^k formulation would need pow() per pair and an
    * order-dependent sum). */
  def q109_ewma_decay(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-9, Window.currentRow)
    T.events(s, d).filter(col("value").isNotNull)
      .select(col("event_id"), col("user_id"),
        round(aggregate(collect_list(col("value").cast("double")).over(w),
          lit(0.0), (acc, x) => acc * lit(0.9) + x) + lit(1e-9), 6)
          .as("ewma"))
  }

  /** Tokenizer-training vocabulary: the 20 most frequent corpus tokens
    * with deterministic contiguous ids — one bounded hash agg plus a
    * TakeOrdered(k); see [[operators.TextRanking.buildVocab]]. */
  def q110_vocab_build(s: SparkSession, d: String): DataFrame =
    TextRanking.buildVocab(T.documents(s, d), "text", 20)

  /** Exact heavy hitters over the token stream (> 1% of all tokens):
    * per-partition Misra-Gries candidates, broadcast-pruned exact
    * recount — the shuffle carries only candidate rows, never the
    * billion-key token domain. See [[operators.HeavyHitters]]. */
  def q111_heavy_hitters(s: SparkSession, d: String): DataFrame = {
    val toks = T.documents(s, d)
      .select(explode(TF.tokens(col("text"))).as("token"))
    HeavyHitters.frequentItems(toks, "token", 0.01)
  }

  /** Per-event-type metric drift: OLS slope of value against day index
    * since 2024-01-01, from decimal/integer-exact sums — see
    * [[operators.Profiling.trendSlope]]. */
  def q112_trend_slope(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    Profiling.trendSlope(ev, Seq("event_type"),
      datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")),
      col("value"))
  }

  /** Training-mix composition: 200 documents apportioned across the 20
    * sources by temperature-0.5 char-mass weights (Hamilton largest
    * remainder, decimal-exact), drawn per source in md5 order — see
    * [[operators.Mixture]]. */
  def q113_mixture_sample(s: SparkSession, d: String): DataFrame =
    Mixture.sample(T.documents(s, d), "source", "doc_id", "n_chars",
      k = 200, alpha = 0.5)
      .select(col("doc_id"), col("source"))

  /** Pre-publish data-contract verification ([[operators.Checks]]):
    * four row-local rules in ONE scan, key uniqueness as a
    * count-distinct delta, referential integrity as an anti join —
    * the Deequ-style suite report, integer-exact. */
  def q114_quality_checks(s: SparkSession, d: String): DataFrame = {
    val li = T.lineitem(s, d)
    Checks.suite(li,
      Seq(Checks.notNull("l_orderkey"),
        Checks.inRange("l_quantity", 1.0, 50.0),
        Checks.inRange("l_discount", 0.0, 0.1),
        Checks.inSet("l_returnflag", Seq("A", "N", "R"))),
      Seq(Checks.unique(li, Seq("l_orderkey", "l_linenumber"),
          "unique_order_line"),
        Checks.foreignKey(li, Seq("l_orderkey"), T.orders(s, d),
          Seq("o_orderkey"), "fk_orders")))
  }

  /** Model-calibration reliability bins
    * ([[graft.ml.Evaluators.calibrationBins]]): a synthetic [0,1]
    * score (scaled discount) against the R-returnflag label, 10
    * equal-width bins with decimal-exact confidence/accuracy means. */
  def q115_calibration(s: SparkSession, d: String): DataFrame = {
    val scored = T.lineitem(s, d).select(
      (col("l_discount") * 10).as("score"),
      when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("label"))
    graft.ml.Evaluators.calibrationBins(scored, "score", "label", 10)
  }

  /** Ingest-batch near-dup screen: delta sources (src5+) probed against
    * the base corpus's banded MinHash index, shingle-Jaccard verified at
    * 0.5 ([[operators.Dedup.incrementalMinhashLsh]]) — the incremental
    * sibling of q81's exact path. */
  def q116_incremental_minhash(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    Dedup.incrementalMinhashLsh(
      docs.filter(!col("source").isInCollection(BaseSrc)),
      docs.filter(col("source").isInCollection(BaseSrc)),
      "doc_id", "text")
  }

  /** Entity-resolution scoring ([[operators.RecordLinkage.scorePairs]]):
    * the q106 FastSS-blocked name pairs scored Fellegi-Sunter-style on
    * brand/type/size agreement with fixed log-odds weights; matched =
    * net evidence ≥ 0. */
  def q117_linkage_score(s: SparkSession, d: String): DataFrame = {
    import operators.RecordLinkage.FieldRule
    val names = T.part(s, d)
      .groupBy(lower(trim(col("p_name"))).as("name"))
      .agg(min(col("p_partkey")).as("id"))
    val pairs = operators.RecordLinkage
      .fuzzyPairs(names, "id", "name", maxDist = 1)
    operators.RecordLinkage.scorePairs(pairs, "id_a", "id_b",
      T.part(s, d), "p_partkey",
      Seq(FieldRule.equality("p_brand", 2.0, -2.0),
        FieldRule.equality("p_type", 1.5, -1.5),
        FieldRule.within("p_size", 1.0, 1.0, -1.0)))
      .withColumn("matched", col("score") >= 0.0)
  }

  /** Distance-preserving dim reduction before ANN indexing
    * ([[operators.Similarity.randomProjection]]): 64-dim embeddings to
    * 8 dims through the md5-derived ±1 literal matrix, folded in the
    * bit-reproducible q109 order. */
  def q118_random_projection(s: SparkSession, d: String): DataFrame = {
    val p = Similarity.randomProjection(
      T.embeddings(s, d), "embedding", inDims = 64, outDims = 8)
    p.select(col("vec_id") +: (0 until 8).map(j =>
      round(element_at(col("proj"), j + 1) + lit(1e-9), 6).as(s"p$j")): _*)
  }

  /** Collocation mining ([[operators.TextRanking.pmiPairs]]):
    * document-level PMI over the top-20 vocabulary, pair generation
    * bounded per doc by the vocab restriction. */
  def q119_pmi_collocations(s: SparkSession, d: String): DataFrame =
    TextRanking.pmiPairs(T.documents(s, d), "text",
      vocabSize = 20, minPairCount = 5)

  /** Negative sampling for ranking/retrieval training data
    * ([[operators.NegativeSampling.sample]]): up to 4 md5-deterministic
    * unpurchased parts per customer, drawn from a 12-attempt budget
    * against the distributed dense part index, purchase pairs excluded
    * by one anti join. All-integer output. */
  def q120_negative_sample(s: SparkSession, d: String): DataFrame = {
    val pos = T.orders(s, d).join(T.lineitem(s, d),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust_key"), col("l_partkey").as("part_key"))
    NegativeSampling.sample(pos, "cust_key", "part_key",
      T.part(s, d), "p_partkey", k = 4, oversample = 3)
      .select(col("user").as("cust_key"), col("item").as("part_key"),
        col("attempt").cast("long").as("attempt"))
  }

  /** Rolling-window feature engineering: per-user trailing 5-event mean
    * value and running event count — the classic point-in-time feature
    * a training pipeline derives per example. One shuffle on user_id;
    * the frame is bounded so window state is O(5) per row. */
  def q69_rolling_features(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val w5 = w.rowsBetween(-4, Window.currentRow)
    T.events(s, d).select(col("event_id"), col("user_id"),
      (sum(dec(col("value"), 18, 2)).over(w5).cast("double") /
        count(lit(1)).over(w5)).as("trail5_avg"),
      count(lit(1)).over(w).as("n_so_far"))
      .withColumn("trail5_avg", round(col("trail5_avg") + lit(1e-9), 6))
  }

  /** OLAP rollup: subtotals + grand total in one pass (partial aggregates
    * per grouping set, no re-scan per level). */
  def q70_rollup(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sumExact(col("l_quantity"), 18, 2).as("sum_qty"))

  /** Pivot (wide aggregation): per-user value sums by event type, one
    * shuffle — the explicit value list keeps the schema static, which is
    * what makes pivot plannable at scale (no driver-side distinct scan). */
  def q71_pivot(s: SparkSession, d: String): DataFrame =
    T.events(s, d).groupBy("user_id")
      .pivot("event_type",
        Seq("click", "view", "purchase", "error", "signup"))
      .agg(sum(dec(col("value"), 18, 2)).cast("double"))

  /** Grouped exact percentiles: per-event-type value quantiles via
    * [[operators.Profiling.groupedExactQuantiles]] (range-partitioned
    * sort over (group, value) with per-(partition, group) offsets — a
    * group's values span partitions, so no per-group reducer ever holds
    * a group's full distinct-value map the way the built-in grouped
    * `percentile` does; with 5 event types that funnel is 5 tasks for
    * the whole table). */
  def q72_grouped_percentiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qs = Profiling.groupedExactQuantiles(T.events(s, d),
      "event_type", "value", Seq(0.5, 0.9))
    qs.map { case (g, ps) => (g, ps(0), ps(1)) }
      .toDF("event_type", "_p50", "_p90")
      .select(col("event_type"),
        round(col("_p50") + lit(1e-9), 6).as("p50"),
        round(col("_p90") + lit(1e-9), 6).as("p90"))
  }

  /** Weighted reservoir: 5 events per type, inclusion ∝ value — the
    * importance-weighted subsample a curation pipeline draws (A-ES keys,
    * hash randomness, bounded-heap thresholds). */
  def q73_weighted_sample(s: SparkSession, d: String): DataFrame =
    GroupedSampling.weightedSample(
      T.events(s, d).withColumn("w", col("value") + lit(1.0)),
      Seq("event_type"), Seq("event_id"), "w", cap = 5)
      .select("event_type", "event_id")

  /** Equal-frequency feature binning: quartile thresholds from one
    * distributed percentile aggregate, broadcast back, bin assignment as
    * a codegen'd CASE — no global sort, no ntile single-task window. */
  def q74_feature_binning(s: SparkSession, d: String): DataFrame = {
    val li = T.lineitem(s, d)
    // parallel order-statistics quantiles (continuous column — the
    // built-in percentile aggregate would funnel a 600k-entry value map
    // through one reducer; see Profiling.exactQuantiles)
    val th = Profiling.exactQuantiles(li, "l_extendedprice",
      Seq(0.25, 0.5, 0.75))
    li.select(when(col("l_extendedprice") < th(0), 1)
        .when(col("l_extendedprice") < th(1), 2)
        .when(col("l_extendedprice") < th(2), 3)
        .otherwise(4).as("bin"), col("l_extendedprice"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(min(col("l_extendedprice")) + lit(1e-9), 6).as("bin_min"),
        round(max(col("l_extendedprice")) + lit(1e-9), 6).as("bin_max"))
  }

  /** Pairwise Pearson correlations — all pairs in one co-moment scan. */
  def q75_correlations(s: SparkSession, d: String): DataFrame = {
    val li = T.lineitem(s, d)
    val pairs = Seq("l_quantity" -> "l_extendedprice",
      "l_quantity" -> "l_discount", "l_extendedprice" -> "l_tax")
    val aggs = pairs.zipWithIndex.map { case ((a, b), i) =>
      round(corr(col(a), col(b)) + lit(1e-9), 6).as(s"_r_$i")
    }
    li.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs.zipWithIndex.map { case ((a, b), i) =>
        struct(lit(a).as("col_a"), lit(b).as("col_b"),
          col(s"_r_$i").as("r"))
      }: _*)).as("p"))
      .select("p.*")
  }

  /** Sequential funnel: view → click-after-first-view →
    * purchase-after-that-click, counted per stage. Each stage is one
    * keyed aggregate plus one equi-join on user_id — order semantics
    * without any per-user event-list materialization. */
  def q77_funnel(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("vts"))
    val firstClickAfter = ev.filter(col("event_type") === "click")
      .join(firstView, "user_id").filter(col("ts") >= col("vts"))
      .groupBy("user_id").agg(min(col("ts")).as("cts"))
    val purchasedAfter = ev.filter(col("event_type") === "purchase")
      .join(firstClickAfter, "user_id").filter(col("ts") >= col("cts"))
      .select("user_id").distinct()
    ev.agg(countDistinct(col("user_id")).as("n_users"))
      .crossJoin(firstView.agg(count(lit(1)).as("n_viewed")))
      .crossJoin(firstClickAfter.agg(count(lit(1)).as("n_click_after_view")))
      .crossJoin(purchasedAfter.agg(count(lit(1))
        .as("n_purchase_after_click")))
  }

  /** Weekly cohort retention: users bucketed by first-activity week,
    * tracked by weeks-since-cohort — two keyed aggregates and one join,
    * the standard retention triangle. */
  def q78_cohort_retention(s: SparkSession, d: String): DataFrame = {
    // cohort key = the Monday DATE of the first active week: a single
    // calendar value, so year boundaries can't split or merge cohorts
    // (weekofyear+year mix ISO and calendar conventions and corrupt
    // both cohorts and the week-offset arithmetic around new year)
    val ev = T.events(s, d).select(col("user_id"),
      to_date(date_trunc("week", col("ts"))).as("wk"))
    val firstWeek = ev.groupBy("user_id")
      .agg(min(col("wk")).as("cohort_week"))
    ev.join(firstWeek, "user_id")
      .groupBy("cohort_week")
      .agg(countDistinct(col("user_id")).as("cohort_size"),
        countDistinct(when(datediff(col("wk"), col("cohort_week")) === 7,
          col("user_id"))).as("retained_wk1"),
        countDistinct(when(datediff(col("wk"), col("cohort_week")) === 28,
          col("user_id"))).as("retained_wk4"))
  }

  /** Bloom-filter semi-join pruning: lineitem scan pre-filtered by a
    * bloom of urgent orders' keys before the join shuffle (the runtime-
    * filter pattern, made explicit). Result must equal the plain join. */
  def q79_bloom_join(s: SparkSession, d: String): DataFrame = {
    val urgent = T.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val li = T.lineitem(s, d)
      .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"))
    BloomJoin.join(li, urgent, "o_orderkey",
      estItems = 100000L, numBits = 1L << 20)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sumExact(col("l_extendedprice"), 18, 4).as("sum_price"))
  }

  /** Leave-one-out target encoding with additive smoothing: the
    * categorical-feature encoder a tabular pipeline fits per column.
    * enc_i = (Σ_group − x_i + m·ḡ) / (n_group − 1 + m): excluding the
    * row's own value kills target leakage; the prior mass `m` shrinks
    * rare categories toward the global mean. One keyed aggregate
    * broadcast back — no per-row state. */
  def q85_target_encoding(s: SparkSession, d: String): DataFrame = {
    val m = 10.0
    val ev = T.events(s, d)
    val g = ev.agg((sum(dec(col("value"), 18, 2)).cast("double") /
      count(lit(1))).as("_g"))
    val stats = ev.groupBy("event_type")
      .agg(sum(dec(col("value"), 18, 2)).as("_sum"),
        count(lit(1)).as("_n"))
    ev.join(broadcast(stats), "event_type")
      .crossJoin(broadcast(g))
      .select(col("event_id"),
        round((((col("_sum") - dec(col("value"), 18, 2)).cast("double")) +
          lit(m) * col("_g")) / (col("_n") - 1 + m) + lit(1e-9), 6)
          .as("loo_enc"))
  }

  /** Calendar densification (gap fill): per-user hourly event counts
    * over a fixed day INCLUDING empty hours — generate the hour spine,
    * cross the (small) user dim, left-join the aggregated facts. The
    * spine side is rows-generated, not scanned, so the only real cost
    * is the one keyed aggregate. */
  def q86_gap_fill(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val day = ev.filter(to_date(col("ts")) === lit("2024-01-01"))
    val users = day.select(col("user_id")).distinct()
    val hours = s.range(0, 24).select(col("id").cast("int").as("hour"))
    val counts = day.select(col("user_id"), hour(col("ts")).as("hour"))
      .groupBy("user_id", "hour").agg(count(lit(1)).as("n"))
    users.crossJoin(broadcast(hours))
      .join(counts, Seq("user_id", "hour"), "left")
      .select(col("user_id"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n_events"))
  }

  /** SCD2-style temporal history: compress each user's event stream to
    * state CHANGES (drop consecutive repeats of event_type) and attach
    * validity intervals [valid_from, valid_to) via lead() — the
    * change-data-capture → slowly-changing-dimension build, one shuffle
    * on the entity key. Open intervals carry null valid_to. */
  def q87_scd2_history(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val changes = T.events(s, d)
      .withColumn("_prev", lag(col("event_type"), 1).over(w))
      .filter(col("_prev").isNull || col("_prev") =!= col("event_type"))
    changes
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_type").as("state"),
        col("ts").as("valid_from"), col("valid_to"))
  }

  /** E8: precision@k per group (top-k by score, hit = purchase). */
  def q31_precision_at_k(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("value").desc, col("event_id"))
    T.events(s, d).withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("user_id")
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .cast("double") / lit(3.0)).as("p_at_3"))
  }

  /** E1: AUC via rank statistic (deterministic total order). The global
    * rank is computed by a range-partitioned sort + per-partition prefix
    * offsets ([[graft.ml.Evaluators.rankSumStats]]) — NOT a global
    * single-partition window, so it holds at any row count. */
  def q32_auc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = T.embeddings(s, d).select(
      element_at(col("embedding"), 1).cast("double").as("score"),
      col("vec_id").cast("long").as("vid"),
      (col("label") >= 5).as("pos"))
      .filter(col("score").isNotNull && col("vid").isNotNull).rdd
      .map(r => (r.getDouble(0), r.getLong(1), r.getBoolean(2)))
    val (sumRnPos, p, n) = graft.ml.Evaluators.rankSumStats(rows)
    Seq((2.0 * sumRnPos - p.toDouble * (p + 1)) / (2.0 * p.toDouble * n))
      .toDF("auc")
  }

  /** E3: RMSE of a linear score against labels. */
  def q33_rmse(s: SparkSession, d: String): DataFrame = {
    val e = T.embeddings(s, d).select(
      (element_at(col("embedding"), 1).cast("double") * 10.0).as("pred"),
      col("label").cast("double").as("label"))
    // decimal-exact sum for order independence; final 9-dp rounding
    // absorbs the rare double->decimal half-rounding tie where Spark's
    // shortest-repr cast and DuckDB's exact-expansion cast disagree in
    // the 13th digit of one squared term
    e.select(((col("pred") - col("label")) * (col("pred") - col("label")))
      .as("sq"))
      .agg(round(sqrt(sum(dec(col("sq"), 28, 12)).cast("double") /
        count(lit(1))), 9).as("rmse"))
  }

  /** A4 on embeddings: per-label stats of the first component. */
  def q34_embedding_stats(s: SparkSession, d: String): DataFrame =
    T.embeddings(s, d)
      .select(col("label"),
        element_at(col("embedding"), 1).cast("double").as("e0"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        min(col("e0")).as("vmin"), max(col("e0")).as("vmax"),
        (sum(dec(col("e0"), 18, 9)).cast("double") / count(lit(1)))
          .as("vmean"))
      .withColumnRenamed("label", "lbl")

  /** E9/J8: grouped tie-aware AUC per user over events, SQL-mirrored. */
  def q35_grouped_auc(s: SparkSession, d: String): DataFrame =
    graft.ml.Evaluators.groupedAuc(
      T.events(s, d).select(col("user_id"),
        col("value").as("score"),
        when(col("event_type") === "purchase", 1.0).otherwise(0.0)
          .as("label")),
      "user_id", "score", "label")

  /** E2/E10: AUPR + peak F1 from the distributed confusion curve
    * ([[graft.ml.Evaluators.confusionCurve]] — reduceByKey on distinct
    * scores + range sort + prefix offsets; no single-task stage). Values
    * rounded to 9 dp so cross-engine double-summation order can't flip
    * the hash compare. */
  def q36_aupr_peakf1(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val df = T.embeddings(s, d).select(
      element_at(col("embedding"), 1).cast("double").as("score"),
      when(col("label") >= 5, 1.0).otherwise(0.0).as("label"))
    // one shared curve: aupr and peakF1 are two actions over the same
    // persisted sorted-counts RDD, not two curve builds
    val m = graft.ml.Evaluators.curveMetrics(df, "score", "label")
    val (aupr, pf1) = try (m.aupr, m.peakF1) finally m.unpersist()
    Seq((math.rint(aupr * 1e9) / 1e9, math.rint(pf1 * 1e9) / 1e9))
      .toDF("aupr", "peak_f1")
  }

  /** E10 legacy metrics: Bernoulli log-likelihood of sigmoid scores and
    * AIC with k=4 parameters; rounded to 6 dp (ln/exp differ in ulps
    * across engines). */
  def q37_loglik_aic(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val df = T.embeddings(s, d).select(
      (lit(1.0) / (lit(1.0) +
        exp(-element_at(col("embedding"), 1).cast("double")))).as("prob"),
      when(col("label") >= 5, 1.0).otherwise(0.0).as("label"))
    val ll = graft.ml.Evaluators.logLikelihood(df, "prob", "label")
    val aic = graft.ml.Evaluators.aic(df, "prob", "label", nParams = 4)
    Seq((math.rint(ll * 1e6) / 1e6, math.rint(aic * 1e6) / 1e6))
      .toDF("log_lik", "aic")
  }

  private def rnd6(x: Double): Double = math.rint(x * 1e6) / 1e6
  // 5dp contract for ITERATIVE-fit outputs gated against closed forms
  // or fixed-step mirrors: at sf1-scale row counts the optimizer's
  // convergence gap (tol on the objective, not the parameters) plus
  // tree-vs-sequential float summation can cross a 6dp boundary
  // (measured: q140 3.238710 vs 3.238707, q53 ±1e-6 at sf1) while both
  // engines agree to ~1e-5 — the realistic cross-engine contract for a
  // converged fit. Closed-form queries keep the 6dp gate.
  private def rnd5(x: Double): Double = math.rint(x * 1e5) / 1e5

  /** L1/L2/L6 through the REAL distributed trainer on a problem small
    * enough for an independent SQL oracle: 1-feature logistic + intercept,
    * L2=1. The DuckDB oracle runs 12 unrolled Newton steps — an entirely
    * different algorithm — and both land on the unique optimum (strictly
    * convex), compared at 6 dp. */
  def q53_logistic_newton(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val ds = T.embeddings(s, d).select(
      when(col("label") >= 5, 1.0).otherwise(0.0).as("label"),
      array_to_vector(slice(col("embedding"), 1, 1)).as("features"),
      lit(0.0).as("offset"), lit(1.0).as("weight"))
      .as[graft.ml.LabeledPoint]
    val m = graft.ml.Glm.train(ds, 1,
      graft.ml.GlmConfig(graft.ml.LogisticLoss, l2 = 1.0, maxIter = 200,
        tol = 1e-12))
    Seq((rnd5(m.coef(0)), rnd5(m.intercept))).toDF("slope", "intercept")
  }

  /** L5 (TRON) against a closed form: 2-feature ridge regression whose
    * unique optimum the oracle computes by Cramer's rule on the normal
    * equations (intercept unregularized, matching the optimizer). */
  def q54_ridge_closed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val ds = T.embeddings(s, d).select(
      col("label").cast("double").as("label"),
      array_to_vector(slice(col("embedding"), 1, 2)).as("features"),
      lit(0.0).as("offset"), lit(1.0).as("weight"))
      .as[graft.ml.LabeledPoint]
    val m = graft.ml.Glm.train(ds, 2,
      graft.ml.GlmConfig(graft.ml.SquaredLoss, l2 = 0.1, maxIter = 100,
        tol = 1e-12), solver = "tron")
    Seq((rnd6(m.coef(0)), rnd6(m.coef(1)), rnd6(m.intercept)))
      .toDF("w1", "w2", "intercept")
  }

  /** L10/J3 through the REAL per-entity trainer with a closed-form
    * oracle: intercept-only squared-loss models per user — the optimizer
    * must land on each user's mean value (the unique minimizer), which
    * DuckDB computes as AVG. Gates the groupByKey + local-solver path
    * end to end. */
  def q55_re_means(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val ds = T.events(s, d).select(
      col("user_id").cast("string").as("reId"),
      col("value").as("label"),
      array_to_vector(array().cast("array<double>")).as("features"),
      lit(0.0).as("offset"), lit(1.0).as("weight"))
      .as[graft.ml.RandomEffect.ReSample]
    graft.ml.RandomEffect.train(ds, 0,
      graft.ml.GlmConfig(graft.ml.SquaredLoss, maxIter = 100, tol = 1e-12))
      .toDF()
      // +1e-9 pushes values that sit exactly on a 6-dp rounding boundary
      // (where solver error ~1e-10 vs DuckDB's exact AVG would flip the
      // digit) onto the same side in both engines
      .select(col("reId").cast("long").as("user_id"),
        round(col("intercept") + 1e-9, 6).as("mean_value"))
  }

  /** P4/A8/L10-L12 under a hash gate: per-entity 2-feature ridge with
    * REAL feature vectors through the full RandomSpec path — subspace
    * projection included. Features live in a 4-dim global space but each
    * user touches only 2 indices (pair chosen by user parity), so every
    * per-entity solve runs in a projected 2-dim subspace and scatters
    * back — `inactive_abs` (sum of |coef| on the user's untouched
    * indices) must be exactly 0.0 or the scatter is wrong. Two CD
    * rounds make round 2 warm-start from round 1's models, driving the
    * prior-gather path through the same projection. The oracle solves
    * each user's ridge normal equations by Cramer (the q54 template,
    * grouped per user; intercept unregularized, A = XᵀX + λI with
    * λ = 0.1 matching GlmConfig.l2). Reference analogue: per-entity
    * featureful GAME training, GameTrainingDriverIntegTest.scala:
    * 246-258. */
  def q91_re_ridge(s: SparkSession, d: String): DataFrame = {
    import graft.ml.CoordinateDescent
    import graft.ml.CoordinateDescent._
    import org.apache.spark.ml.functions.array_to_vector
    val x1 = (col("event_id") % 7).cast("double") - lit(3.0)
    val x2 = (col("event_id") % 11).cast("double") - lit(5.0)
    val par = pmod(col("user_id"), lit(2))
    val feat = when(par === 0, array(x1, x2, lit(0.0), lit(0.0)))
      .otherwise(array(lit(0.0), lit(0.0), x1, x2))
    val data = T.events(s, d).select(
      col("event_id").as("uid"), col("value").as("label"),
      lit(1.0).as("weight"), lit(0.0).as("offset"),
      array_to_vector(feat).as("xf"),
      col("user_id").cast("string").as("userId"))
    val model = CoordinateDescent.train(data, Seq(
      RandomSpec("perUser2f", "userId", "xf", 4,
        graft.ml.GlmConfig(graft.ml.SquaredLoss, l2 = 0.1, maxIter = 100,
          tol = 1e-12), activeCap = 0)), nIterations = 2)
    val models = model.coordinates("perUser2f")
      .asInstanceOf[TrainedRandom].models
    val p = pmod(col("entity").cast("long"), lit(2)).cast("int")
    models.select(col("reId").as("entity"), col("coef"), col("intercept"))
      .select(col("entity"),
        round(element_at(col("coef"), p * 2 + 1) + lit(1e-9), 6).as("w1"),
        round(element_at(col("coef"), p * 2 + 2) + lit(1e-9), 6).as("w2"),
        round(col("intercept") + lit(1e-9), 6).as("intercept"),
        (abs(element_at(col("coef"), (lit(1) - p) * 2 + 1)) +
          abs(element_at(col("coef"), (lit(1) - p) * 2 + 2)))
          .as("inactive_abs"))
  }

  /** Hash-exact gate for the REAL image codec (q42's decode path): a
    * 16-image PNG fixture corpus generated from a closed-form pixel
    * formula, encoded with ImageIO (lossless RGB), decoded through
    * [[graft.multimodal.Multimodal.decode]]'s real codec, and reduced to
    * per-image stats (dims + per-channel pixel sums). The oracle
    * recomputes the same sums from the pixel formula in pure SQL, so
    * encode→decode→buffer-layout→channel-split all face the hash
    * compare. The corpus is fixture-sized by design — the scale path is
    * the decode operator itself (batched mapPartitions), gated here for
    * correctness, benched under q42. */
  def q42o_multimodal_stats(s: SparkSession, d: String): DataFrame = {
    val png = udf { (i: Long) =>
      val w = 8 + (i % 5).toInt
      val h = 8 + (i % 7).toInt
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          def f(c: Int): Int = ((x * 3 + y * 5 + c * 7 + i * 11) % 256).toInt
          img.setRGB(x, y, (f(0) << 16) | (f(1) << 8) | f(2))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = s.range(16).select(col("id").as("media_id"),
      lit("image").as("kind"), png(col("id")).as("payload"),
      map().cast("map<string,string>").as("meta"))
    val sums = udf { (px: Array[Byte]) =>
      var r = 0L; var g = 0L; var b = 0L
      var i = 0
      while (i < px.length) {
        val v = (px(i) & 0xFF).toLong
        (i % 3) match {
          case 0 => r += v
          case 1 => g += v
          case _ => b += v
        }
        i += 1
      }
      (r, g, b)
    }
    graft.multimodal.Multimodal.decode(media)
      .select(col("media_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        sums(col("pixels")).as("_s"))
      .select(col("media_id"), col("width"), col("height"),
        col("_s._1").as("r_sum"), col("_s._2").as("g_sum"),
        col("_s._3").as("b_sum"))
  }

  /** Audio-codec gate (the q42o pattern for the audio branch): 16 WAV
    * fixtures whose int16 samples come from a closed-form formula,
    * encoded by [[graft.multimodal.Multimodal.encodeWav]], decoded back
    * through the REAL RIFF parser, and reduced to all-integer signal
    * stats. The oracle recomputes the identical stats from the formula
    * in pure SQL, so header layout, chunk walking, little-endian int16
    * reads, and the stat fold all face the hash compare. */
  def q125_audio_stats(s: SparkSession, d: String): DataFrame = {
    val wav = udf { (i: Long) =>
      val n = 200 + (i % 5).toInt * 40
      val samples = Array.tabulate[Short](n) { t =>
        (((t.toLong * 31 + i * 17) % 4001) - 2000).toShort
      }
      graft.multimodal.Multimodal.encodeWav(8000 + i.toInt * 500, 1, samples)
    }
    val media = s.range(16).select(col("id").as("media_id"),
      lit("audio").as("kind"), wav(col("id")).as("payload"),
      map().cast("map<string,string>").as("meta"))
    graft.multimodal.Multimodal.audioStats(media)
  }

  /** The streaming surface at data scale: the full events table fed
    * through a MemoryStream in event-time order (4 chunks, so the
    * watermark advances across micro-batches and sessions flush
    * incrementally), sessionized by the watermark-correct
    * flatMapGroupsWithState operator, flushed by one far-future sentinel
    * event, and reduced to per-user session/event counts. The oracle is
    * batch sessionization over the same table — streaming with
    * watermarks must converge to exactly the batch answer. Gap compares
    * happen at millisecond precision on both sides (`getTime` in the
    * operator, `epoch_ms` in the oracle) because the raw timestamps
    * carry microseconds. The driver-side collect is the MemoryStream
    * FIXTURE ONLY — production streams arrive via readStream; the
    * operator's state is watermark-bounded either way. */
  def q92_streaming_sessions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams
    implicit val sqlCtx = s.sqlContext
    val ev = T.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStreams.Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[EventStreams.Event]
    val sessions = EventStreams.sessionize(input.toDS(),
      gapMs = 30 * 60 * 1000L, watermark = "1 hour")
    val sink = "q92_sessions_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = ExecProfile.withConfs(s, StateStoreConfs) {
      sessions.writeStream.outputMode("append")
        .format("memory").queryName(sink).start()
    }
    try {
      // two mid-stream barriers: enough for the watermark to advance
      // across micro-batches (incremental flushing is exercised), few
      // enough that per-batch fixed costs (state-store open/commit per
      // partition, sink append) don't dominate the measured throughput
      val chunk = math.max(1, (ev.length + 3) / 4)
      ev.grouped(chunk).zipWithIndex.foreach { case (c, i) =>
        input.addData(c.toSeq)
        if (i % 2 == 1) q.processAllAvailable()
      }
      q.processAllAvailable()
      // a sentinel far past the horizon pushes the watermark beyond
      // every real session's end + gap, firing all pending timeouts
      input.addData(EventStreams.Event(-1L,
        new java.sql.Timestamp(ev.last.ts.getTime + 40L * 24 * 3600 * 1000),
        -1L, "sentinel", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    s.table(sink).filter(col("user_id") >= 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).cast("long").as("n_events"))
  }

  /** Streaming exact dedup converging to the batch answer: documents
    * fed through a MemoryStream in doc_id order (4 micro-batch chunks,
    * deterministic event times) into [[graft.streaming.EventStreams
    * .dedupStream]] — watermark-bounded state — and the surviving set
    * must equal batch keep-first-per-hash ([[operators.Dedup.exact]]'s
    * rule): the oracle is one GROUP BY over the same table. */
  def q133_streaming_dedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams
    implicit val sqlCtx = s.sqlContext
    val base = 1700000000000L
    val docs = T.documents(s, d)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1)
      .map { case (id, t) =>
        EventStreams.DocEvent(id, t, new java.sql.Timestamp(base + id * 1000L))
      }
    val input = MemoryStream[EventStreams.DocEvent]
    val deduped = EventStreams.dedupStream(input.toDF(), "text", "ts",
      watermark = "1 hour")
    val sink = "q133_dedup_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = ExecProfile.withConfs(s, StateStoreConfs) {
      deduped.writeStream.outputMode("append")
        .format("memory").queryName(sink).start()
    }
    try {
      val chunk = math.max(1, (docs.length + 3) / 4)
      docs.grouped(chunk).foreach { c =>
        input.addData(c.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    s.table(sink).select(col("content_hash"), col("doc_id"))
  }

  /** Streaming over a FILE source — the executor-fed path q92/q133's
    * MemoryStream fixtures can't exercise: events are staged as 8-file
    * parquet (a distributed write, never through the driver), read back
    * with `readStream` + `maxFilesPerTrigger=2` so four micro-batches
    * flow through a watermarked tumbling-window aggregate, and the
    * complete-mode result must equal the batch 6-hour rollup (plain SQL
    * oracle). State is one row per (window, event_type) — bounded by
    * the time horizon, not the row count — and sums ride exact decimals
    * so the hash compare is batch-equivalent regardless of batch
    * slicing. */
  def q209_streaming_file(s: SparkSession, d: String): DataFrame = {
    // the staging dir must not leak on ANY failure (the write itself,
    // readStream setup, or start()), not just a mid-stream one — so the
    // cleanup wraps everything from the first write onward
    TempDirs.using("q209_stage_") { case Seq(stage) =>
      val ev = T.events(s, d)
        .select(col("ts"), col("event_type"), col("value"))
      ev.repartition(8).write.parquet(stage)
      val stream = s.readStream
        .schema(org.apache.spark.sql.types.StructType(ev.schema.fields))
        .option("maxFilesPerTrigger", "2")
        .parquet(stage)
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sumExact(col("value"), 18, 6).cast("double").as("sum_value"))
      val sink = "q209_file_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = ExecProfile.withConfs(s, StateStoreConfs) {
        agg.writeStream.outputMode("complete")
          .format("memory").queryName(sink).start()
      }
      try q.processAllAvailable()
      finally q.stop()
      val out = s.table(sink).select(
        unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("sum_value"))
      // the memory sink holds the complete-mode result on the driver
      // under a per-run UUID name — materialize the (bounded: one row
      // per window×type) result and DROP the sink view, so repeated
      // bench runs can't accumulate orphaned result tables
      val rows = out.collect()
      s.catalog.dropTempView(sink)
      s.createDataFrame(
        java.util.Arrays.asList(rows: _*), out.schema)
    }
  }

  /** Int8 embedding quantization manifest: per-vector symmetric scale +
    * deterministic code fingerprint — the compression step before ANN
    * indexing, oracle-mirrored code for code (the DuckDB side rebuilds
    * round(v·127/max|v|) per element). Zero shuffle, one projection. */
  def q93_embedding_quantize(s: SparkSession, d: String): DataFrame = {
    val q = Similarity.quantizeInt8(T.embeddings(s, d), "embedding")
    q.select(col("vec_id"), size(col("codes")).as("n_dims"),
      aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
      md5(concat_ws(",", transform(col("codes"), _.cast("string"))))
        .as("code_hash"),
      round(col("scale") + lit(1e-9), 6).as("scale"))
  }

  /** CDC snapshot: the events stream read as a changelog on user_id —
    * 'error' deletes the key, anything else upserts; last writer by
    * (ts, event_id) wins. One hash aggregate ([[Cdc.snapshot]]), no
    * window over the change history. */
  def q94_cdc_upsert(s: SparkSession, d: String): DataFrame =
    Cdc.snapshot(
      T.events(s, d).select("user_id", "ts", "event_id", "event_type",
        "value"),
      keyCols = Seq("user_id"), versionCols = Seq("ts", "event_id"),
      opCol = "event_type", deleteOps = Seq("error"))
      .select(col("user_id"), col("n_changes"), col("ts").as("last_ts"),
        col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), col("value").as("last_value"))

  /** BM25 relevance of each document to a fixed query-term bag
    * ([[TextRanking.bm25]]; decimal-exact term sums). */
  def q95_bm25(s: SparkSession, d: String): DataFrame =
    TextRanking.bm25(T.documents(s, d), "doc_id", "text",
      Seq("spark", "window", "hash"))

  /** Per-user trailing-hour rolling features over the event stream
    * ([[Rolling.trailingFeatures]]: one RANGE-frame window, one
    * shuffle). */
  def q96_trailing_hour(s: SparkSession, d: String): DataFrame =
    Rolling.trailingFeatures(
      T.events(s, d).select("event_id", "user_id", "ts", "value"),
      Seq("user_id"), "ts", "event_id", "value", 3600L)
      .select(col("event_id"), col("n_window"), col("sum_window"),
        col("prev_value"))

  /** Exact global ECDF of event values ([[Ranks.ecdf]]: distinct-value
    * counts + range-partitioned prefix sums — never a whole-table
    * single-task window) joined back per row. */
  def q97_value_ecdf(s: SparkSession, d: String): DataFrame =
    T.events(s, d).select(col("event_id"), col("value"))
      .join(Ranks.ecdf(T.events(s, d), "value"), Seq("value"))
      .select(col("event_id"), col("cnt_le"), col("ecdf"))

  /** 5-fold cross-validated ridge on embedding[1..2]
    * ([[CrossValidation.kfoldGlm]]): per-fold closed-form-checkable
    * coefficients plus held-out RMSE scored from 6dp-rounded
    * coefficients so both engines predict from identical doubles. */
  def q99_kfold_cv(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val data = T.embeddings(s, d).select(
      pmod(col("vec_id"), lit(5)).cast("int").as("fold"),
      col("label").cast("double").as("label"),
      array_to_vector(slice(col("embedding"), 1, 2)).as("features"),
      lit(0.0).as("offset"), lit(1.0).as("weight"))
    // solver="normal": the per-fold exact normal-equations solve lands
    // within ulps of the oracle's Cramer algebra; an iterative solver
    // at tol 1e-12 can stop ~1e-7 away, which is enough to flip a
    // coefficient sitting near a 6dp rounding boundary (observed on
    // folds 3/4 with TRON)
    graft.ml.CrossValidation.kfoldGlm(data, "fold", 5, 2,
      graft.ml.GlmConfig(graft.ml.SquaredLoss, l2 = 0.1, maxIter = 100,
        tol = 1e-12), "normal")
      .select(col("fold"), col("n_train"), col("n_test"),
        element_at(col("coef"), 1).as("w1"),
        element_at(col("coef"), 2).as("w2"),
        col("intercept"), col("rmse"))
  }

  /** Deterministic Lloyd's k-means over the embeddings (k = 8, 2
    * update passes + final assignment, [[operators.Clustering.kmeans]]:
    * broadcast centroids, one cached-vector scan per pass ending in a
    * k·d-row aggregate — the vectors are never shuffled). */
  def q104_kmeans(s: SparkSession, d: String): DataFrame =
    operators.Clustering.kmeans(
      T.embeddings(s, d), "vec_id", "embedding", k = 8, iterations = 2)

  /** SemDeDup semantic near-dup pairs
    * ([[operators.Clustering.semDedupAuto]]): cosine compared only
    * within a TWO-LEVEL k-means cluster — Σ cluster² pairs instead of
    * n², with the hot-cluster guard bounding the worst case. */
  def q105_semdedup(s: SparkSession, d: String): DataFrame =
    // auto-k (ceil(n/250)) pins expected cluster size so pair
    // generation stays linear in n (fixed k measured 31× time for 10×
    // data in r7), and the ⌈√k⌉-coarse/per-cell-fine hierarchy keeps
    // ASSIGNMENT near-linear too (single-level k ∝ n is O(n²·d):
    // measured 217× time for 100× data in the r8 scaling decade)
    operators.Clustering.semDedupAuto(
      T.embeddings(s, d), "vec_id", "embedding", tau = 0.3,
      targetClusterSize = 250, iterations = 2)

  /** INCREMENTAL SemDeDup gate
    * ([[operators.Clustering.semDedupIncremental]]): the base slice
    * clusters once, the "daily batch" slice assigns to the FROZEN
    * centroids, and only pairs involving a batch point (in clusters the
    * batch touched) are emitted — yesterday's base-vs-base pairs never
    * re-emit. The DuckDB mirror replays the unrolled Lloyd CTEs on the
    * base slice plus a frozen-centroid assignment of the batch. */
  def q223_semdedup_incremental(s: SparkSession, d: String): DataFrame = {
    val emb = T.embeddings(s, d)
    operators.Clustering.semDedupIncremental(
      emb.filter(col("vec_id") % 10 < 8),
      emb.filter(col("vec_id") % 10 >= 8),
      "vec_id", "embedding", tau = 0.3, k = 16, iterations = 2)
  }

  /** PERSISTED SemDeDup state lifecycle
    * ([[operators.Clustering.semDedupStateSave]] /
    * [[operators.Clustering.semDedupIncrementalPersisted]]): yesterday's
    * base clustering (labels + frozen centroids) lands on disk once;
    * today's batch loads the bounded centroid file, assigns under the
    * training kernel's exact rounding, prunes the label table to
    * touched clusters BEFORE fetching any base vectors, and emits
    * batch-involving pairs — q223's in-run incremental replayed through
    * files, so the oracle is q223's SQL verbatim. */
  def q237_semdedup_persisted(s: SparkSession, d: String): DataFrame = {
    val emb = T.embeddings(s, d)
    val base = emb.filter(col("vec_id") % 10 < 8)
    val batch = emb.filter(col("vec_id") % 10 >= 8)
    TempDirs.using("q237_sem_") { case Seq(root) =>
      EmbSem.build(s, base, root)
      operators.Clustering.semDedupIncrementalPersisted(s, root, base,
        batch, "vec_id", "embedding", tau = 0.3)
        .localCheckpoint()
    }
  }

  /** Incremental SemDeDup at the SCALE clustering
    * ([[operators.Clustering.semDedupIncrementalAuto]]): the base slice
    * clusters two-level (k ∝ n/target — pairing stays linear — with
    * O(n·√k·d) assignment), the batch replays BOTH frozen quantizer
    * levels, and only batch-involving pairs in touched clusters emit.
    * The DuckDB mirror replays the two-level Lloyd CTEs plus the
    * frozen coarse+fine batch assignment. */
  def q224_semdedup_incremental_auto(s: SparkSession,
                                     d: String): DataFrame = {
    val emb = T.embeddings(s, d)
    operators.Clustering.semDedupIncrementalAuto(
      emb.filter(col("vec_id") % 10 < 8),
      emb.filter(col("vec_id") % 10 >= 8),
      "vec_id", "embedding", tau = 0.3, targetClusterSize = 100,
      iterations = 2)
  }

  /** Fuzzy vocabulary matching over distinct part names
    * ([[operators.RecordLinkage.fuzzyPairs]]): FastSS
    * deletion-neighborhood candidate keys, codegen'd levenshtein
    * verification — equi-join blocking, never all-pairs. */
  def q106_fuzzy_match(s: SparkSession, d: String): DataFrame = {
    val names = T.part(s, d)
      .groupBy(lower(trim(col("p_name"))).as("name"))
      .agg(min(col("p_partkey")).as("id"))
    operators.RecordLinkage.fuzzyPairs(names, "id", "name", maxDist = 1)
  }

  /** Corpus-internal duplicated-passage screen
    * ([[operators.Dedup.duplicatePassages]]): fraction of each doc's
    * distinct 3-shingles appearing in at least one other doc — the
    * shingle-DF-join approximation of exact-substring dedup. */
  def q107_dup_passages(s: SparkSession, d: String): DataFrame =
    operators.Dedup.duplicatePassages(T.documents(s, d), "doc_id", "text")

  /** Distribution-drift screen: PSI of each event type's value
    * distribution vs the population over 10 fixed bins
    * ([[Profiling.psiDrift]]). */
  def q103_drift_psi(s: SparkSession, d: String): DataFrame =
    Profiling.psiDrift(
      T.events(s, d).select(col("event_type"), col("value")),
      "event_type", "value")

  /** 3-iteration PageRank over the symmetrized customer–supplier
    * bipartite graph ([[Graphs.pagerank]]: join-based iterations,
    * decimal-exact contribution sums, no driver graph state). */
  def q102_pagerank(s: SparkSession, d: String): DataFrame = {
    // run the iterations on LONG node ids (custkey·2 / suppkey·2+1):
    // the dedup and per-iteration shuffles move 8-byte keys, and the
    // human-readable labels are minted once from the final ranks. The
    // label arithmetic never touches the rank values, so the oracle's
    // string-id mirror sees identical numbers.
    val pairs = T.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(T.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("c"),
        (col("l_suppkey").cast("long") * 2 + 1).as("ss")).distinct()
    val edges = pairs.select(col("c").as("src"), col("ss").as("dst"))
      .unionByName(pairs.select(col("ss").as("src"), col("c").as("dst")))
    // broadcastNodeLimit = 0: same lesson as q121 — the explicit
    // per-round broadcast forces an eager materialization job per round;
    // letting AQE pick the strategy inside one job is faster at every
    // scale where the rank table is broadcast-sized anyway
    Graphs.pagerank(edges, "src", "dst", iterations = 3,
      broadcastNodeLimit = 0L)
      .select(when(col("id") % 2 === 0,
          concat(lit("c"), expr("id div 2")))
        .otherwise(concat(lit("s"), expr("(id - 1) div 2"))).as("id"),
        round(col("rank") + lit(1e-9), 9).as("rank"))
  }

  /** Community detection over the co-purchase part graph
    * ([[operators.Graphs.labelPropagation]]): parts are linked when
    * they appear in the same order; 3 synchronous rounds, most-frequent
    * neighbour label with smallest-label tiebreak. All-integer output. */
  def q121_label_prop(s: SparkSession, d: String): DataFrame = {
    val pairs = T.lineitem(s, d).alias("a")
      .join(T.lineitem(s, d).alias("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("x"), col("b.l_partkey").as("y"))
      .distinct()
    val edges = pairs.select(col("x").as("src"), col("y").as("dst"))
      .unionByName(pairs.select(col("y").as("src"), col("x").as("dst")))
    // broadcastNodeLimit = 0: let AQE pick the join strategy inside one
    // job — the explicit per-round broadcast forces an eager
    // materialization job per round, each paying cold codegen (measured
    // 14.3 s cold / 3.1 s warm broadcast vs 13.1 / 1.9 AQE at sf0.1)
    Graphs.labelPropagation(edges, "src", "dst", iterations = 3,
      broadcastNodeLimit = 0L)
      .select(col("id").cast("long").as("part_key"),
        col("lbl").cast("long").as("community"))
  }

  /** Hard-negative mining ([[operators.Similarity.hardNegatives]]):
    * exact top-3 cosine neighbors per query with each query's positive
    * set (corpus ids ≡ qid mod 5) excluded before the bounded-heap
    * top-k — one broadcast anti join inside the single corpus scan. */
  def q122_hard_negatives(s: SparkSession, d: String): DataFrame = {
    val (queries, corpus) = knnSplit(T.embeddings(s, d))
    val positives = corpus.select((col("id") % 5).as("qid"), col("id"))
    Similarity.hardNegatives(queries, corpus, positives, 3)
      .select(col("qid"), col("rank"), col("id"), col("cosine"))
  }

  /** Corpus-refresh audit ([[operators.SnapshotDiff.diff]]): the added /
    * removed / changed rows between two deterministic order-table
    * snapshots (drops keyed mod 11 vs mod 7, status rewritten for keys
    * mod 13), compared on (o_orderstatus, o_totalprice) fingerprints
    * reduced map-side before the one full-outer join. */
  def q123_snapshot_diff(s: SparkSession, d: String): DataFrame = {
    val o = T.orders(s, d)
    val base = o.filter(col("o_orderkey") % 11 =!= 0)
    val current = o.filter(col("o_orderkey") % 7 =!= 0)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 13 === 0, "X").otherwise(col("o_orderstatus")))
    SnapshotDiff.diff(base, current, "o_orderkey",
      Seq("o_orderstatus", "o_totalprice"))
  }

  /** Winsorization ([[operators.Profiling.winsorize]]): clip
    * l_extendedprice to its exact [p05, p95] — thresholds from the
    * parallel order-statistics sort, clip as a literal-inlined codegen
    * projection. Emits clip counts, the realized fences (min/max of the
    * clipped column), and the decimal-exact clipped sum. */
  def q124_winsorize(s: SparkSession, d: String): DataFrame = {
    val w = Profiling.winsorize(T.lineitem(s, d), "l_extendedprice",
      0.05, 0.95)
    val v = col("l_extendedprice").cast("double")
    w.agg(
      sum(when(col("winsorized") > v, 1L).otherwise(0L)).as("n_raised"),
      sum(when(col("winsorized") < v, 1L).otherwise(0L)).as("n_lowered"),
      min(col("winsorized")).as("t_lo"),
      max(col("winsorized")).as("t_hi"),
      graft.util.Exact.sumExact(col("winsorized"), 18, 6)
        .as("sum_winsorized"))
  }

  /** Z-order layout key ([[operators.ZOrder.zValue]]): the Morton code
    * a lakehouse OPTIMIZE would range-partition lineitem by for 2-D
    * (orderkey, partkey) locality — pure codegen bit interleave,
    * all-integer output. The physical cluster step (one range exchange)
    * is spec-gated; here the key itself faces the hash compare. */
  def q126_zorder(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      ZOrder.zValue(col("l_orderkey") % 1024, col("l_partkey") % 1024, 10)
        .as("zvalue"))

  /** Web-extraction step ([[graft.functions.TextFunctions.stripHtml]]):
    * each document rendered into a deterministic HTML page (title,
    * style, script, entities) and stripped back to text — script/style
    * content and tags must vanish, entities decode, whitespace
    * collapses. Output is fingerprint + lengths; the oracle applies
    * the identical RE2-safe regex chain. */
  def q127_html_extract(s: SparkSession, d: String): DataFrame = {
    val page = concat(
      lit("<html><head><style>p { margin: 0; }</style></head><body>" +
        "<h1>Doc &amp; Title</h1><p class=\"b\">"),
      substring(col("text"), 1, 200),
      lit("</p><script>var x = 1 < 2;</script>&nbsp;tail</body></html>"))
    T.documents(s, d).select(col("doc_id"),
      TF.stripHtml(page).as("_t"))
      .select(col("doc_id"), md5(col("_t")).as("text_hash"),
        length(col("_t")).cast("long").as("n_chars"))
  }

  /** Per-source top-5 terms: token counts keyed (source, token), then a
    * bounded-heap per-source top-k ([[graft.functions.AggFunctions
    * .collectTopK]] on (-cnt, token)) — each map task retains ≤ k
    * candidates per source, never the source's full vocabulary (the
    * [[operators.Similarity]] topK shape on text). */
  def q128_top_terms_by_source(s: SparkSession, d: String): DataFrame = {
    val counts = T.documents(s, d)
      .select(col("source"), explode(TF.tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("cnt"))
    counts.groupBy("source")
      .agg(graft.functions.AggFunctions.collectTopK(
        struct((-col("cnt")).as("nc"), col("token")), 5, smallest = true)
        .as("_top"))
      .select(col("source"), posexplode(col("_top")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.token").as("token"), (-col("col.nc")).as("cnt"))
  }

  /** Heterogeneous-corpus ingest ([[operators.AlignUnion.unionAligned]]):
    * two differently-shaped source tables aligned to one schema (missing
    * columns null-filled, by name) in one pass; per-origin row and
    * null-column counts prove the alignment. */
  def q129_align_union(s: SparkSession, d: String): DataFrame = {
    val a = T.orders(s, d).select(col("o_orderkey").as("rec_id"),
      col("o_orderstatus").as("status"), lit("orders").as("origin"))
    val b = T.lineitem(s, d).select(col("l_orderkey").as("rec_id"),
      col("l_returnflag").as("flag"), lit("lineitem").as("origin"))
    AlignUnion.unionAligned(Seq(a, b))
      .groupBy("origin").agg(count(lit(1)).as("n"),
        sum(when(col("status").isNull, 1L).otherwise(0L)).as("null_status"),
        sum(when(col("flag").isNull, 1L).otherwise(0L)).as("null_flag"))
  }

  /** Exact-substring dedup spans ([[operators.Dedup.repeatedSpans]]):
    * maximal token ranges of every document covered by 3-shingles that
    * recur in other documents — positioned shingles, one frequency
    * semi join, document-local overlap merge. All-integer output. */
  def q130_repeated_spans(s: SparkSession, d: String): DataFrame =
    Dedup.repeatedSpans(T.documents(s, d), "doc_id", "text", n = 3)

  /** Join-skew advisor ([[operators.Skew.joinSkewReport]]): the top-10
    * orderkeys by lineitem×lineitem self-join contribution — per-key
    * counts from one aggregate per side, a key-sized join, bounded-heap
    * top-k. The measurement that decides where [[operators.Skew
    * .saltedJoin]] is worth its replication. */
  def q131_join_skew_report(s: SparkSession, d: String): DataFrame = {
    val li = T.lineitem(s, d).select(col("l_orderkey"))
    Skew.joinSkewReport(li, li, "l_orderkey", topK = 10)
  }

  /** Train→val leakage audit: the q60 hash split composed with
    * [[operators.Decontamination.report]] — every TRAIN document scored
    * for distinct-3-shingle overlap against the VAL split. The check a
    * pipeline runs before trusting held-out metrics: q58's machinery
    * pointed at the corpus's own splits instead of an external
    * benchmark. */
  def q132_split_leakage(s: SparkSession, d: String): DataFrame = {
    val docs = Splits.withSplit(T.documents(s, d), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    Decontamination.report(
      docs.filter(col("split") === "train"),
      docs.filter(col("split") === "val"),
      "doc_id", "text", n = 3)
  }

  /** Deterministic epoch shuffling: the reproducible dataloader order a
    * training run needs — epoch e's permutation key is md5(e ␁ doc_id),
    * so the order is bit-stable across runs and engines and
    * decorrelated across epochs. Emits each epoch's first 10 documents
    * via the bounded-heap top-k (no global sort materialization; rank
    * = position in the ascending key order). */
  def q134_epoch_shuffle(s: SparkSession, d: String): DataFrame = {
    val epochs = s.range(3).select(col("id").cast("int").as("epoch"))
    val keyed = T.documents(s, d).select(col("doc_id").cast("long"))
      .join(epochs)
      .select(col("epoch"), col("doc_id"),
        md5(concat_ws("\u0001", col("epoch").cast("string"),
          col("doc_id").cast("string"))).as("k"))
    keyed.groupBy("epoch")
      .agg(graft.functions.AggFunctions.collectTopK(
        struct(col("k"), col("doc_id")), 10, smallest = true).as("_top"))
      .select(col("epoch"), posexplode(col("_top")))
      .select(col("epoch").cast("long").as("epoch"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("col.doc_id").as("doc_id"))
  }

  /** Character-entropy quality signal (the gibberish/compressibility
    * filter corpus pipelines run alongside repetition checks): Shannon
    * entropy of each document's character distribution, from two hash
    * aggregates over exploded characters. Entropy terms are summed as
    * DECIMAL(18,9) so the cross-engine sum is order-independent. */
  def q135_char_entropy(s: SparkSession, d: String): DataFrame = {
    val chars = T.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) === 1)
    val counts = chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("doc_id")
      .agg(sum(col("n")).as("total"), count(lit(1)).as("n_distinct"))
    counts.join(totals, "doc_id")
      .withColumn("_p", col("n").cast("double") / col("total"))
      .withColumn("_term",
        round(-col("_p") * log2(col("_p")) + lit(1e-9), 9))
      .groupBy("doc_id")
      .agg(max(col("n_distinct")).as("n_distinct_chars"),
        round(sum(dec(col("_term"), 18, 9)).cast("double") + lit(1e-9), 6)
          .as("entropy_bits"))
  }

  /** PII scrub audit ([[functions.PiiFunctions]]): the corpus text is
    * digit-free, so deterministic synthetic contact lines (email for
    * every doc, IP for even doc_ids, phone for doc_id % 3 == 0) are
    * appended first; then detection counts on the original-plus-contact
    * text and the redacted footprint aggregate per source. Detection and
    * redaction are pure codegen'd regex in the RE2-safe subset — zero
    * shuffles until the per-source aggregate. */
  def q136_pii_redact(s: SparkSession, d: String): DataFrame = {
    import graft.functions.PiiFunctions
    val id = col("doc_id")
    val aug = T.documents(s, d).select(col("source"),
      concat(col("text"),
        lit(" contact user"), id.cast("string"), lit("@example.com"),
        when(id % 2 === 0, concat(lit(" from 10."),
          (id % 256).cast("string"), lit(".0."),
          ((id * 7 + 3) % 256).cast("string"))).otherwise(lit("")),
        when(id % 3 === 0, concat(lit(" call 555-"),
          lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
        .as("text"))
    aug
      .select(col("source"), PiiFunctions.piiCounts(col("text")).as("c"),
        length(PiiFunctions.redact(col("text"))).cast("long").as("rlen"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("c.n_email")).as("n_emails"),
        sum(col("c.n_ip")).as("n_ips"),
        sum(col("c.n_phone")).as("n_phones"),
        sum(col("rlen")).as("redacted_chars"))
  }

  /** One BPE merge-counting round ([[operators.Tokenizer]]): adjacent
    * character-pair statistics over the word VOCABULARY with
    * multiplicities (one corpus scan collapses to vocab-sized counts;
    * the pair domain is alphabet²-bounded), top-50 merge candidates in
    * deterministic (count desc, pair) order. */
  def q137_bpe_pairs(s: SparkSession, d: String): DataFrame =
    Tokenizer.topMerges(
      Tokenizer.bpePairCounts(T.documents(s, d), "text"), 50)

  /** Vocabulary-novelty curve ([[operators.Tokenizer.noveltyCurve]]):
    * trigram shingles first-seen per ingest bucket (100 docs per bucket
    * in doc_id order; trigrams keep the curve decaying instead of
    * saturating in bucket 0) — two hash aggregates, the "is this crawl
    * still finding new language?" monitor. */
  def q138_vocab_growth(s: SparkSession, d: String): DataFrame = {
    val terms = T.documents(s, d).select(
      floor(col("doc_id") / lit(100.0)).cast("long").as("bucket"),
      explode(TF.shingles(col("text"), 3)).as("term"))
    Tokenizer.noveltyCurve(terms, "term", "bucket")
  }

  /** U5 standalone index-set union ([[graft.functions.AggFunctions
    * .indexSetUnion]]): per-source union of hashed token buckets as ONE
    * bitmap-buffered aggregate — map-side partials are ceil(512/8)-byte
    * bitmaps, not element lists, so the shuffle per group is bounded by
    * the vocabulary, never the corpus (reference
    * RandomEffectDataset.scala:417-424). Gated on the sorted bucket list
    * joined to a string plus its size. */
  def q139_index_union(s: SparkSession, d: String): DataFrame = {
    import graft.functions.AggFunctions
    val idxs = T.documents(s, d).select(
      col("source"),
      transform(TF.tokens(col("text")), t =>
        pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), lit(512))
          .cast("int")).as("idxs"))
    idxs.groupBy("source")
      .agg(AggFunctions.indexSetUnion(col("idxs")).as("u"))
      .select(col("source"),
        size(col("u")).as("n_buckets"),
        array_join(transform(col("u"), _.cast("string")), ",")
          .as("buckets"))
  }

  /** Model-based quality filtering — the stage after heuristic cleaning
    * where a trained classifier gates the corpus: a fixed-coefficient
    * logistic model (J1 broadcast-scoring shape, coefficients inlined)
    * over the q22 feature set. The keep predicate is the MARGIN z ≥ 0,
    * not sigmoid(z) ≥ 0.5 — same set, but no transcendental sits in the
    * filter where a last-ulp exp() disagreement could flip membership.
    * Per-source report: kept count and mean calibrated score from
    * per-doc 6dp-rounded probabilities summed as exact decimals. */
  def q147_model_quality_filter(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "of", "to", "and", "in", "is")
    val z = lit(6.0) * TF.stopwordRatio(col("text"), stop) +
      lit(0.8) * TF.meanTokenLen(col("text")) +
      lit(0.5) * log(lit(1.0) + TF.tokenCount(col("text"))) - lit(6.0)
    val p = round(lit(1.0) / (lit(1.0) + exp(-col("z"))) + lit(1e-9), 6)
    T.documents(s, d).select(col("source"), z.as("z"))
      .where(col("z") >= 0)
      .select(col("source"), p.cast("decimal(18,6)").as("_p"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        (sum(col("_p")).cast("double") / count(lit(1))).as("mean_p"))
  }

  /** Embedding covariance ([[graft.functions.VectorOps.covarianceUpper]]):
    * upper-triangle covariance of the first 8 coordinates in ONE
    * full-scan aggregate (36 covar_pop moments as agg columns, no
    * coordinate-pair explode) — the PCA/whitening/Mahalanobis input. */
  def q145_embedding_covariance(s: SparkSession, d: String): DataFrame =
    V.covarianceUpper(T.embeddings(s, d), "embedding", 8)
      .select(col("i"), col("j"), round(col("cov") + lit(1e-9), 6).as("cov"))

  /** ZCA whitening gated by its analytic invariant: whiten the first 8
    * embedding coordinates ([[graft.functions.VectorOps.whiten]] — one
    * moment scan, driver-side 8×8 eigensolve, codegen'd projection, no
    * data shuffle), then re-measure the covariance — which must BE the
    * identity matrix at 6 dp. The oracle is the constant identity
    * table, so the moment pass, eigensolve, and projection all face an
    * exact gate without the eigendecomposition ever needing SQL. */
  def q150_whitening(s: SparkSession, d: String): DataFrame = {
    val white = V.whiten(T.embeddings(s, d), "embedding", 8)
      .select(col("whitened").as("v"))
    V.covarianceUpper(white, "v", 8)
      .select(col("i"), col("j"),
        round(col("cov") + lit(1e-9), 6).as("cov"))
  }

  /** Reciprocal-rank fusion of two per-source rankings — the retrieval
    * re-rank primitive: BM25 relevance (list 1, hit docs only) fused
    * with the integer n_chars quality rank (list 2, all docs) as
    * Σ 1/(60+rank). Both row_numbers partition by source, so no global
    * single-partition sort exists; list-1 ordering is on the ALREADY
    * 6dp-rounded bm25 score (the q95 output convention), never a raw
    * float sort key. */
  def q146_rank_fusion(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = T.documents(s, d).select("doc_id", "source", "n_chars")
    val bm = TextRanking.bm25(T.documents(s, d), "doc_id", "text",
      Seq("spark", "window", "hash")).select("doc_id", "bm25")
    val r1 = docs.join(bm, "doc_id")
      .withColumn("r1", row_number().over(Window.partitionBy("source")
        .orderBy(col("bm25").desc, col("doc_id"))))
      .select("doc_id", "r1")
    val r2 = docs.withColumn("r2",
      row_number().over(Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id"))))
    r2.join(r1, Seq("doc_id"), "left")
      .select(col("doc_id"), col("r1"), col("r2"),
        round(coalesce(lit(1.0) / (lit(60) + col("r1")), lit(0.0)) +
          lit(1.0) / (lit(60) + col("r2")) + lit(1e-9), 6).as("rrf"))
  }

  /** Training-batch assembly capstone — the chunk→pack composition that
    * turns a cleaned corpus into fixed-budget training sequences: filter
    * short docs, split to non-overlapping 64-token chunks
    * ([[operators.Chunking]], zero shuffle), pack chunks into ≤512-token
    * sequences in 8 hash-bucket streams
    * ([[operators.SequencePacking.assignCounted]] — only (uid, n_tokens)
    * pairs travel through the packing shuffle, never chunk text), and
    * emit the per-sequence manifest with its fill rate (exact: /512 is a
    * power-of-two division). */
  def q144_training_batches(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
      .where(size(TF.tokens(col("text"))) >= 8)
    val chunks = Chunking.chunk(docs, "doc_id", "text",
      chunkTokens = 64, stride = 64)
      .select(concat(col("doc_id"), lit("_"), col("chunk_idx")).as("uid"),
        col("n_tokens"))
    SequencePacking.assignCounted(chunks, "uid", "n_tokens",
      maxTokens = 512, nBuckets = 8)
      .groupBy("bucket", "seq_in_bucket")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("fill_rate",
        col("n_tokens").cast("double") / lit(512.0))
  }

  /** L3 OWLQN through the one lasso with an exact closed form: 1-feature,
    * no intercept, squared loss — the minimizer is the soft threshold
    * sign(s)·max(|s|−λ,0)/q with s = Σxy, q = Σx². Two independent fits
    * gate both branches: λ=0.1 shrinks but keeps the coefficient
    * (distinguishable from plain OLS at 6 dp), λ=100 kills it to exactly
    * 0 — the pseudo-gradient's thresholding, not just descent. */
  def q142_owlqn_lasso(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    def pts(i: Int) = T.embeddings(s, d).select(
      col("label").cast("double").as("label"),
      array_to_vector(slice(col("embedding"), i, 1)).as("features"),
      lit(0.0).as("offset"), lit(1.0).as("weight"))
      .as[graft.ml.LabeledPoint]
    val cfg = graft.ml.GlmConfig(graft.ml.SquaredLoss,
      fitIntercept = false, maxIter = 300, tol = 1e-12)
    val wA = graft.ml.Glm.train(pts(6), 1, cfg.copy(l1 = 0.1),
      solver = "owlqn").coef(0)
    val wZ = graft.ml.Glm.train(pts(7), 1, cfg.copy(l1 = 100.0),
      solver = "owlqn").coef(0)
    Seq((rnd6(wA + 1e-9), rnd6(wZ + 1e-9))).toDF("w_active", "w_zero")
  }

  /** L4 LBFGSB box constraints where the projection is exactly checkable:
    * a 1-D ridge objective's constrained minimizer is clamp(s/(q+λ), lo,
    * hi). The wide box stays interior (plain ridge through the
    * projected-gradient path); the tight box BINDS at every SF (the
    * unconstrained optimum is outside ±0.5 at sf0.001/0.01/0.1), so the
    * active-set machinery faces the hash, not just unconstrained
    * descent. Reference analogue: constrained training,
    * photon-api GLMOptimizationConfiguration box bounds. */
  def q143_lbfgsb_box(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    def pts(i: Int) = T.embeddings(s, d).select(
      col("label").cast("double").as("label"),
      array_to_vector(slice(col("embedding"), i, 1)).as("features"),
      lit(0.0).as("offset"), lit(1.0).as("weight"))
      .as[graft.ml.LabeledPoint]
    val cfg = graft.ml.GlmConfig(graft.ml.SquaredLoss, l2 = 0.05,
      fitIntercept = false, maxIter = 200, tol = 1e-12)
    val wF = graft.ml.Glm.train(pts(6), 1,
      cfg.copy(bounds = Some((Array(-10.0), Array(10.0))))).coef(0)
    val wC = graft.ml.Glm.train(pts(7), 1,
      cfg.copy(bounds = Some((Array(-0.5), Array(0.5))))).coef(0)
    Seq((rnd6(wF + 1e-9), rnd6(wC + 1e-9))).toDF("w_free", "w_clamped")
  }

  /** P7 normalization end-to-end: 1-feature + intercept ridge trained
    * under STANDARDIZATION (x′ = (x−m)/s, l2 on the normalized
    * coefficient, intercept unregularized) and unfolded back
    * (w = w′/s, b = b′ − w·m). Standardization makes the closed-form
    * path ineligible, so this rides the normalized-space LBFGS iterate
    * plus the effective-coefficient fold — the oracle solves the
    * standardized 2×2 Cramer system and unfolds identically. */
  def q148_norm_ridge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val x = element_at(col("embedding"), 3).cast("double")
    val row = T.embeddings(s, d).agg(avg(x), stddev_pop(x)).head()
    val (m, sd) = (row.getDouble(0), row.getDouble(1))
    val pts = T.embeddings(s, d).select(
      col("label").cast("double").as("label"),
      array_to_vector(slice(col("embedding"), 3, 1)).as("features"),
      lit(0.0).as("offset"), lit(1.0).as("weight"))
      .as[graft.ml.LabeledPoint]
    val cfg = graft.ml.GlmConfig(graft.ml.SquaredLoss, l2 = 0.05,
      norm = graft.ml.Normalization.standardization(Array(m), Array(sd)),
      maxIter = 300, tol = 1e-12)
    val mdl = graft.ml.Glm.train(pts, 1, cfg, solver = "lbfgs")
    Seq((rnd6(mdl.coef(0) + 1e-9), rnd6(mdl.intercept + 1e-9)))
      .toDF("w1", "intercept")
  }

  /** L17 Gaussian-prior (incremental-training) plumbing against its
    * exact posterior: 1-feature squared loss, no intercept, prior
    * (μ=0.3, σ²=0.04) — the regularized normal equation is
    * (Σx² + 1/σ²)·w = Σxy + μ/σ², solved by the same closed-form path
    * incremental retraining uses. The oracle computes the posterior
    * mode directly. */
  def q149_prior_ridge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val pts = T.embeddings(s, d).select(
      col("label").cast("double").as("label"),
      array_to_vector(slice(col("embedding"), 4, 1)).as("features"),
      lit(0.0).as("offset"), lit(1.0).as("weight"))
      .as[graft.ml.LabeledPoint]
    val cfg = graft.ml.GlmConfig(graft.ml.SquaredLoss,
      fitIntercept = false, maxIter = 200, tol = 1e-12,
      prior = Some(graft.ml.GaussianPrior(Array(0.3), Array(0.04))))
    val mdl = graft.ml.Glm.train(pts, 1, cfg)
    Seq(rnd6(mdl.coef(0) + 1e-9)).toDF("w1")
  }

  /** Per-source token-budget fill — the domain-mixing primitive that
    * caps each source at 20% of its token mass, taking documents
    * longest-first (deterministic doc_id tie-break): keep while the
    * running token count BEFORE the doc stays under the budget, so the
    * set always crosses the cap by at most one document. One shuffle
    * (partition by source) + per-source sort; the keep predicate is the
    * pure-integer `5·cum_before < total` so no float budget threshold
    * is ever compared on either side. */
  def q141_token_budget(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = T.documents(s, d).select(
      col("doc_id"), col("source"),
      size(TF.tokens(col("text"))).cast("long").as("n_tokens"))
    val fill = Window.partitionBy("source")
      .orderBy(col("n_tokens").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy("source")
    n.withColumn("cum_before",
        coalesce(sum("n_tokens").over(fill), lit(0L)))
      .withColumn("total", sum("n_tokens").over(all))
      .where(col("cum_before") * 5 < col("total"))
      .select("doc_id", "source", "n_tokens")
  }

  /** F4/F8 Poisson link+loss through the REAL distributed LBFGS path on
    * the one Poisson problem with an exact closed form: intercept-only,
    * no regularization, where the MLE is ln(mean(y)) — the gradient
    * Σ(e^β − y) vanishes exactly there. Gates the Poisson objective,
    * its exp-link gradient, and the optimizer end-to-end by hash; the
    * multi-feature Poisson path stays covered by finite-diff specs. */
  def q140_poisson_mle(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val ds = T.lineitem(s, d).select(
      col("l_quantity").cast("double").as("label"),
      array_to_vector(array().cast("array<double>")).as("features"),
      lit(0.0).as("offset"), lit(1.0).as("weight"))
      .as[graft.ml.LabeledPoint]
    val m = graft.ml.Glm.train(ds, 0,
      graft.ml.GlmConfig(graft.ml.PoissonLoss, maxIter = 200, tol = 1e-12),
      solver = "lbfgs")
    Seq(rnd5(m.intercept)).toDF("intercept")
  }

  /** Hashing-trick feature vectorization
    * ([[sources.FeatureVectorizer.vectorizeHashed]]: no vocabulary
    * build, md5-bucket indices in pure codegen) — two lineitem feature
    * bags into 32 buckets, gated by per-bucket exact value sums. */
  def q101_hashed_features(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    val li = T.lineitem(s, d).select(
      array(struct(lit("flag").as("name"), col("l_returnflag").as("term"),
        col("l_quantity").cast("double").as("value"))).as("bag1"),
      array(struct(lit("status").as("name"),
        col("l_linestatus").as("term"),
        col("l_extendedprice").cast("double").as("value"))).as("bag2"))
    // aggregate from the vectors' SPARSE entries (≤2 per row) instead
    // of exploding 32 dense slots per row — same totals (the dense
    // slots only add exact-decimal zeros), 16× fewer aggregate rows;
    // empty buckets come back through the range frame exactly like the
    // oracle's LEFT JOIN
    val entries = udf { (v: org.apache.spark.ml.linalg.Vector) =>
      val sv = v.toSparse
      sv.indices.zip(sv.values)
    }
    val sums = sources.FeatureVectorizer
      .vectorizeHashed(li, Seq("bag1", "bag2"), "v", 32)
      .select(explode(entries(col("v"))).as("e"))
      .groupBy(col("e._1").as("bucket"))
      .agg(sum(dec(col("e._2"), 18, 6)).cast("double").as("_t"))
    s.range(32).select(col("id").cast("int").as("bucket"))
      .join(sums, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("_t"), lit(0.0)).as("total"))
  }

  /** Hourly OHLC bars per user ([[Rolling.resampleBars]]: one hash
    * aggregate, open/close via min/max(struct) — no per-bucket window
    * sort). */
  def q100_ohlc_bars(s: SparkSession, d: String): DataFrame =
    Rolling.resampleBars(
      T.events(s, d).select("user_id", "ts", "event_id", "value"),
      Seq("user_id"), "ts", "event_id", "value", 3600L)

  /** Exact 80/20 stratified split of documents by source
    * ([[Splits.stratifiedExact]]: partition-offset ranks, no
    * per-stratum window sort). */
  def q98_stratified_split(s: SparkSession, d: String): DataFrame =
    Splits.stratifiedExact(T.documents(s, d), "source", "doc_id",
      Seq("train" -> 0.8, "test" -> 0.2))
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        col("split"))

  // --------------------------------------- non-SQL-expressible (rows-only)

  /** Multimodal pipeline: binary payload → decode → resize → embedding
    * (stub codec, real batched mapPartitions plumbing — see
    * graft.multimodal). Payloads derived from document text bytes. */
  def q42_multimodal(s: SparkSession, d: String): DataFrame = {
    val media = T.documents(s, d).select(
      col("doc_id").as("media_id"), lit("image").as("kind"),
      col("text").cast("binary").as("payload"),
      map(lit("source"), col("source")).as("meta"))
    // scalar projection of the feature vector: array<float> columns crash
    // the harness's pandas/DuckDB reader, and the rows-only check only
    // needs a deterministic row shape
    graft.multimodal.Multimodal.extractFeatures(
      graft.multimodal.Multimodal.resize(
        graft.multimodal.Multimodal.decode(media), 8, 8), 16)
      .select(col("media_id"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("f0"),
        round(aggregate(col("embedding").cast("array<double>"), lit(0.0),
          (a, x) => a + x), 6).as("f_sum"))
  }

  /** L1-L8: distributed logistic regression (LBFGS + L2) on embeddings;
    * output = coefficient table (idx -1 is the intercept). */
  def q50_glm_logistic(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val ds = T.embeddings(s, d).select(
      when(col("label") >= 5, 1.0).otherwise(0.0).as("label"),
      array_to_vector(col("embedding")).as("features"),
      lit(0.0).as("offset"), lit(1.0).as("weight"))
      .as[graft.ml.LabeledPoint]
    val m = graft.ml.Glm.train(ds, 64,
      graft.ml.GlmConfig(graft.ml.LogisticLoss, l2 = 1.0, maxIter = 50,
        tol = 1e-7))
    ((-1, m.intercept) +: m.coef.toSeq.zipWithIndex.map(_.swap))
      .toDF("feature_idx", "weight")
  }

  /** L2's LBFGS iterate facing a hash compare: the same `Glm.train` path
    * q50 runs, forced onto the LBFGS solver (solver = "lbfgs" — "auto"
    * would take the closed form) on a 2-feature ridge problem whose
    * unique optimum the oracle computes by Cramer on the normal
    * equations (the q54 pattern, different features and λ). q50 itself
    * stays the 64-dim scale smoke test. */
  def q50o_glm_lbfgs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val ds = T.embeddings(s, d).select(
      col("label").cast("double").as("label"),
      array_to_vector(slice(col("embedding"), 3, 2)).as("features"),
      lit(0.0).as("offset"), lit(1.0).as("weight"))
      .as[graft.ml.LabeledPoint]
    val m = graft.ml.Glm.train(ds, 2,
      graft.ml.GlmConfig(graft.ml.SquaredLoss, l2 = 0.05, maxIter = 300,
        tol = 1e-12), solver = "lbfgs")
    Seq((rnd6(m.coef(0)), rnd6(m.coef(1)), rnd6(m.intercept)))
      .toDF("w1", "w2", "intercept")
  }

  /** L5's TRON iterate with no intercept slot: 3-feature ridge,
    * fitIntercept = false, so the oracle is a pure 3×3
    * normal-equations Cramer solve — gates the trust-region path on a
    * shape q54 (2 features + intercept) doesn't cover. q51 stays the
    * 64-dim smoke test.
    *
    * Compared at 4 dp (not 6): near the optimum of a large-valued
    * objective, TRON's actual-vs-predicted reduction ratio is dominated
    * by catastrophic cancellation in f − f_new, the trust region
    * collapses, and the iterate stalls ~5e-7 from the exact solution
    * (measured at sf0.1; LIBLINEAR's own default stop is far looser).
    * 4-dp boundaries sit ≥7e-6 away at both test SFs — a >10× margin. */
  def q51o_glm_tron(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val ds = T.embeddings(s, d).select(
      col("label").cast("double").as("label"),
      array_to_vector(slice(col("embedding"), 2, 3)).as("features"),
      lit(0.0).as("offset"), lit(1.0).as("weight"))
      .as[graft.ml.LabeledPoint]
    val m = graft.ml.Glm.train(ds, 3,
      graft.ml.GlmConfig(graft.ml.SquaredLoss, l2 = 0.1, maxIter = 100,
        tol = 1e-12, fitIntercept = false), solver = "tron")
    def rnd4(x: Double): Double = math.rint(x * 1e4) / 1e4
    Seq((rnd4(m.coef(0)), rnd4(m.coef(1)), rnd4(m.coef(2))))
      .toDF("w1", "w2", "w3")
  }

  /** TRON (trust-region Newton with distributed Hessian·v) linear fit. */
  def q51_glm_tron(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val ds = T.embeddings(s, d).select(
      col("label").cast("double").as("label"),
      array_to_vector(col("embedding")).as("features"),
      lit(0.0).as("offset"), lit(1.0).as("weight"))
      .as[graft.ml.LabeledPoint]
    val m = graft.ml.Glm.train(ds, 64,
      graft.ml.GlmConfig(graft.ml.SquaredLoss, l2 = 0.1, maxIter = 30,
        tol = 1e-7), solver = "tron")
    ((-1, m.intercept) +: m.coef.toSeq.zipWithIndex.map(_.swap))
      .toDF("feature_idx", "weight")
  }

  /** L11-L13: GAME — fixed effect (event-type one-hot) + per-user random
    * intercept trained by coordinate descent on events.
    *
    * Oracle-able because both coordinates are squared-loss, so every CD
    * pass has a closed form the DuckDB oracle unrolls as CTE rounds:
    * fixed pass = per-type mean of (label − user residual) with the
    * ridge denominator (nₜ + l2), random pass = per-user plain mean of
    * (label − fixed score) — the intercept is never regularized, so the
    * random l2 is inert. Weights rounded to 6 dp (+1e-9 boundary nudge,
    * the q55 trick) to absorb optimizer convergence error ~1e-10. */
  def q52_game_events(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    import graft.ml.CoordinateDescent
    import graft.ml.CoordinateDescent._
    val types = Seq("click", "view", "purchase", "signup", "error")
    val oneHot = array_to_vector(array(
      types.map(t => when(col("event_type") === t, 1.0).otherwise(0.0)): _*))
    val data = T.events(s, d).select(
      col("event_id").as("uid"), col("value").as("label"),
      lit(1.0).as("weight"), lit(0.0).as("offset"),
      oneHot.as("typeFeatures"),
      array_to_vector(array().cast("array<double>")).as("emptyFeatures"),
      col("user_id").cast("string").as("userId"))
    // squared loss → both coordinates take the exact normal-equations
    // solve (one aggregate per fixed pass, one local solve per entity),
    // so solver error is machine-eps — far inside the 1e-9 rounding
    // nudge. maxIter/tol only matter for the singular-system LBFGS
    // fallback. activeCap = 0: the oracle trains on ALL rows, so the cap
    // must stay off no matter the data scale (the 10⁶ default would
    // silently flip the hash on a >1M-event entity).
    val model = CoordinateDescent.train(data, Seq(
      FixedSpec("eventType", "typeFeatures", types.size,
        graft.ml.GlmConfig(graft.ml.SquaredLoss, l2 = 1e-6, maxIter = 50,
          tol = 1e-12, fitIntercept = false)),
      RandomSpec("perUser", "userId", "emptyFeatures", 0,
        graft.ml.GlmConfig(graft.ml.SquaredLoss, l2 = 1e-3, maxIter = 50,
          tol = 1e-12), activeCap = 0)), nIterations = 2)
    val fixed = model.coordinates("eventType").asInstanceOf[TrainedFixed]
      .model
    val fixedRows = types.indices.map(i =>
      ("eventType", types(i), fixed.coef(i))).toDF(
      "coordinate", "entity", "weight")
    val userRows = model.coordinates("perUser").asInstanceOf[TrainedRandom]
      .models.select(lit("perUser").as("coordinate"),
        col("reId").as("entity"), col("intercept").as("weight"))
    fixedRows.unionAll(userRows)
      .select(col("coordinate"), col("entity"),
        round(col("weight") + lit(1e-9), 6).as("weight"))
  }

  /** SimHash near-dup pairs. The DuckDB oracle rebuilds the 64-bit
    * signatures from md5 hex nibbles in pure SQL (bit votes per token),
    * mirrors the 4×16-bit band candidate condition, and cross-checks the
    * Hamming filter — so the whole banded pipeline faces the hard gate. */
  def q40_simhash_pairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhash(T.documents(s, d), "doc_id", "text", maxHamming = 16)
      .withColumn("hamming", col("hamming").cast("long"))

  /** IVF-Flat ANN: k-means inverted lists + nProbe search (the
    * data-adaptive scale path next to q41's LSH; k-means assignment is
    * run-deterministic but not engine-mirrorable → rows-only check). */
  def q43_knn_ivf(s: SparkSession, d: String): DataFrame = {
    val (queries, corpus) = knnSplit(T.embeddings(s, d))
    Similarity.ivf(queries, corpus, 3, nList = 8, nProbe = 2)
  }

  /** IVF-Flat semantic gate: probing ALL lists makes IVF exhaustive, so
    * the result must equal exact brute-force top-k REGARDLESS of what
    * k-means learned — the entire IVF machinery (fit, list assignment,
    * probe ranking, bucket join, bounded-heap top-K) faces q29's SQL
    * oracle. The approximation quality of the real nProbe < nList path
    * (q43) is gated by SamplingSpec's recall floor. */
  def q43o_knn_ivf_full(s: SparkSession, d: String): DataFrame = {
    val (queries, corpus) = knnSplit(T.embeddings(s, d))
    // probe-all makes the result invariant to clustering quality, so a
    // couple of k-means sweeps suffice — the gate is the machinery
    Similarity.ivf(queries, corpus, 3, nList = 8, nProbe = 8,
      kmeansMaxIter = 2)
      .select(col("qid"), col("rank"), col("id"), col("cosine"))
  }

  /** Shared scaffold of the persisted-index gates (q211/q213/q214):
    * the q29 query/corpus split, a per-run temp index directory, and
    * collect-materialization of the (bounded: |queries|·k rows) result
    * before the directory is deleted. `run(queries, corpus, dir)`
    * builds and probes the index. */
  private def annIndexGate(s: SparkSession, d: String, prefix: String)(
      run: (DataFrame, DataFrame, String) => DataFrame): DataFrame = {
    val (queries, corpus) = knnSplit(T.embeddings(s, d))
    TempDirs.using(prefix) { case Seq(dir) =>
      val got = run(queries, corpus, dir)
        .select(col("qid"), col("rank"), col("id"), col("cosine"))
      val rows = got.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), got.schema)
    }
  }

  /** IVF index PERSISTENCE gate ([[operators.Similarity.ivfBuild]] /
    * `ivfQuery`): the index — centroids plus postings partitioned by
    * inverted list — is built ONCE, written to parquet, and probed from
    * the files (the production workflow: at corpus scale the fit is
    * amortized across query batches and a probe reads only its lists'
    * partition directories). Probe-all makes the result equal exact
    * brute force whatever k-means learned, so the whole
    * build→save→load→probe round-trip faces q29's SQL oracle. */
  def q211_knn_ivf_index(s: SparkSession, d: String): DataFrame =
    annIndexGate(s, d, "q211_ivf_") { (queries, corpus, dir) =>
      Similarity.ivfBuild(corpus, dir, nList = 8, kmeansMaxIter = 2)
      Similarity.ivfQuery(s, dir, queries, k = 3, nProbe = 8)
    }

  /** IVF-PQ index PERSISTENCE gate ([[operators.Similarity.ivfPqBuild]]
    * / `ivfPqQuery`): the COMPRESSED index — coarse centroids,
    * codebooks, and per-list code partitions (codes + norm, never raw
    * vectors) — round-trips through parquet, and probing all lists with
    * refine-over-every-candidate must equal exact brute force whatever
    * the quantizers learned, so the persisted path faces q29's SQL
    * oracle like its in-memory twin q68o. */
  def q213_knn_ivfpq_index(s: SparkSession, d: String): DataFrame =
    annIndexGate(s, d, "q213_ivfpq_") { (queries, corpus, dir) =>
      Similarity.ivfPqBuild(corpus, dir, nList = 8, m = 4, nCodes = 8,
        kmeansMaxIter = 2)
      // refine-ALL means refineK ≥ |corpus| — measured, not assumed: a
      // fixed constant silently under-refines when the oracle replays
      // at a bigger scale factor (sf1's corpus is 19,995 rows)
      Similarity.ivfPqQuery(s, dir, queries, corpus, k = 3, nProbe = 8,
        refineK = corpus.count().toInt)
    }

  /** IVF index APPEND gate ([[operators.Similarity.ivfAppend]]): the
    * index is built on the older half of the corpus, the newer half is
    * appended WITHOUT refit (assign to existing centroids, new files in
    * the hit lists' partition directories), and probe-all over the
    * grown index must equal exact brute force over the FULL corpus —
    * the daily-growth workflow, hash-gated end to end. */
  def q214_knn_ivf_append(s: SparkSession, d: String): DataFrame =
    annIndexGate(s, d, "q214_ivf_") { (queries, corpus, dir) =>
      val mid = corpus.agg(
        percentile_approx(col("id"), lit(0.5), lit(10000))).head().getLong(0)
      Similarity.ivfBuild(corpus.filter(col("id") <= mid), dir,
        nList = 8, kmeansMaxIter = 2)
      Similarity.ivfAppend(s, dir, corpus.filter(col("id") > mid))
      Similarity.ivfQuery(s, dir, queries, k = 3, nProbe = 8)
    }

  /** IVF-PQ index APPEND gate ([[operators.Similarity.ivfPqAppend]]):
    * the q214 workflow for the compressed layout — build codebooks on
    * the older half, encode-and-append the newer half against the
    * EXISTING quantizers, probe-all + refine-all over the grown index
    * must equal exact brute force over the full corpus. */
  def q215_knn_ivfpq_append(s: SparkSession, d: String): DataFrame =
    annIndexGate(s, d, "q215_ivfpq_") { (queries, corpus, dir) =>
      // one pass for both corpus scalars (split point + refine-all size)
      val stats = corpus.agg(
        percentile_approx(col("id"), lit(0.5), lit(10000)),
        count(lit(1))).head()
      val mid = stats.getLong(0)
      Similarity.ivfPqBuild(corpus.filter(col("id") <= mid), dir,
        nList = 8, m = 4, nCodes = 8, kmeansMaxIter = 2)
      Similarity.ivfPqAppend(s, dir, corpus.filter(col("id") > mid))
      Similarity.ivfPqQuery(s, dir, queries, corpus, k = 3, nProbe = 8,
        refineK = stats.getLong(1).toInt)
    }

  /** IVF index COMPACTION gate ([[operators.Similarity.ivfCompact]]):
    * the full lifecycle — build on a third, append two daily batches
    * (each spraying new files into hit-list directories), then a
    * rebuild-compaction (refit centroids from the stored postings,
    * defragment every list to one file set) — and probe-all over the
    * compacted index must STILL equal exact brute force over the whole
    * corpus. The maintenance workflow the reference's index rebuild
    * driver served (photon-client FeatureIndexingDriver.scala:261-291 —
    * indexes there are rebuilt, never appended blindly). */
  def q217_knn_ivf_compact(s: SparkSession, d: String): DataFrame =
    annIndexGate(s, d, "q217_ivf_") { (queries, corpus, dir) =>
      val Seq(t1, t2) = corpus.stat
        .approxQuantile("id", Array(1.0 / 3, 2.0 / 3), 0.0).toSeq
      Similarity.ivfBuild(corpus.filter(col("id") <= t1), dir,
        nList = 8, kmeansMaxIter = 2)
      Similarity.ivfAppend(s, dir,
        corpus.filter(col("id") > t1 && col("id") <= t2))
      Similarity.ivfAppend(s, dir, corpus.filter(col("id") > t2))
      Similarity.ivfCompact(s, dir, rebuild = true, kmeansMaxIter = 2)
      Similarity.ivfQuery(s, dir, queries, k = 3, nProbe = 8)
    }

  /** IVF-PQ codes COMPACTION gate
    * ([[operators.Similarity.ivfPqCompact]]): build on half, append the
    * rest, defragment the code partitions (file compaction — a PQ
    * refit needs the embedding store, i.e. is a fresh `ivfPqBuild`),
    * then probe-all + refine-all must equal brute force. */
  def q218_knn_ivfpq_compact(s: SparkSession, d: String): DataFrame =
    annIndexGate(s, d, "q218_ivfpq_") { (queries, corpus, dir) =>
      val stats = corpus.agg(
        percentile_approx(col("id"), lit(0.5), lit(10000)),
        count(lit(1))).head()
      val mid = stats.getLong(0)
      Similarity.ivfPqBuild(corpus.filter(col("id") <= mid), dir,
        nList = 8, m = 4, nCodes = 8, kmeansMaxIter = 2)
      Similarity.ivfPqAppend(s, dir, corpus.filter(col("id") > mid))
      Similarity.ivfPqCompact(s, dir)
      Similarity.ivfPqQuery(s, dir, queries, corpus, k = 3, nProbe = 8,
        refineK = stats.getLong(1).toInt)
    }

  /** Index-HEALTH gate ([[operators.Similarity.ivfIndexHealth]]): the
    * operational report a daily-append pipeline polls per index. The
    * gate pins its deterministic fields — list count comes from the
    * quantizer (nList=8 by construction), total rows from the corpus,
    * and recall@k at probe-all is exactly 1.0 (ties deterministic on
    * both sides) — against plain SQL over the embeddings table; the
    * fs-dependent fields (file counts, versions) are spec-gated in
    * SamplingSpec instead. */
  def q220_index_health(s: SparkSession, d: String): DataFrame = {
    val (queries, corpus) = knnSplit(T.embeddings(s, d))
    TempDirs.using("q220_health_") { case Seq(dir) =>
      Similarity.ivfBuild(corpus, dir, nList = 8,
        kmeansMaxIter = 2)
      val got = Similarity.ivfIndexHealth(s, dir, queries,
        k = 3, nProbe = 8)
        .select(col("n_lists"), col("total_rows"), col("recall_at_k"))
      val rows = got.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), got.schema)
    }
  }

  /** [[q220_index_health]] for the COMPRESSED layout
    * ([[operators.Similarity.ivfPqIndexHealth]]): the codes table's
    * operational report, deterministic fields only — list count from
    * the coarse quantizer (always nList=8), total rows from the
    * corpus, and recall@k at probe-all + refine-all exactly 1.0 (the
    * lossy codes only order candidates; exact refinement over every
    * candidate decides, with deterministic ties). */
  def q230_index_health_pq(s: SparkSession, d: String): DataFrame = {
    val (queries, corpus) = knnSplit(T.embeddings(s, d))
    TempDirs.using("q230_health_") { case Seq(dir) =>
      Similarity.ivfPqBuild(corpus, dir, nList = 8,
        m = 4, nCodes = 8, kmeansMaxIter = 2)
      val got = Similarity.ivfPqIndexHealth(s, dir,
        queries, corpus, k = 3, nProbe = 8,
        refineK = corpus.count().toInt)
        .select(col("n_lists"), col("total_rows"), col("recall_at_k"))
      val rows = got.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), got.schema)
    }
  }

  /** Maintenance plan→apply gate ([[operators.Similarity
    * .indexMaintenancePlan]] / `indexMaintenanceApply`): build on the
    * older half, append the rest (fragmenting the hit lists), and the
    * planner — recall floor 0.9, one-file-per-list ceiling — must read
    * `compact` (probe-all recall is exactly 1.0, so only fragmentation
    * trips); applying the planned action must return the next plan to
    * `none`. Deterministic by construction: the quantizer always emits
    * nList=8 lists, an append always splits at least one hit list
    * across files, and a compaction always coalesces each list back to
    * one file. */
  def q229_index_maintenance(s: SparkSession, d: String): DataFrame = {
    val (queries, corpus) = knnSplit(T.embeddings(s, d))
    val mid = corpus.agg(
      percentile_approx(col("id"), lit(0.5), lit(10000))).head().getLong(0)
    TempDirs.using("q229_maint_") { case Seq(root) =>
      Similarity.ivfBuild(corpus.filter(col("id") <= mid), root,
        nList = 8, kmeansMaxIter = 2)
      Similarity.ivfAppend(s, root, corpus.filter(col("id") > mid))
      def planned(): org.apache.spark.sql.Row =
        Similarity.indexMaintenancePlan(
          Similarity.ivfIndexHealth(s, root, queries, k = 3, nProbe = 8),
          recallFloor = 0.9, maxFilesPerListCeiling = 1).head()
      val before = planned()
      Similarity.indexMaintenanceApply(s, root,
        before.getAs[String]("action"))
      val after = planned()
      import s.implicits._
      Seq((before.getAs[Int]("n_lists"), before.getAs[Long]("total_rows"),
        before.getAs[String]("action"), after.getAs[String]("action")))
        .toDF("n_lists", "total_rows", "action_fragmented",
          "action_compacted")
    }
  }

  /** Streaming index-INGEST gate ([[operators.Similarity.ivfIngest]]):
    * build on the older half, then REPLAY the newer half as a file
    * stream whose micro-batches append through foreachBatch → ivfAppend
    * (the continuous-ingest workflow), and probe-all over the grown
    * index must equal exact brute force over the full corpus — q214's
    * oracle over the Structured-Streaming append path. */
  def q221_knn_ivf_stream_ingest(s: SparkSession, d: String): DataFrame =
    annIndexGate(s, d, "q221_ivf_") { (queries, corpus, dir) =>
      val mid = corpus.agg(
        percentile_approx(col("id"), lit(0.5), lit(10000))).head().getLong(0)
      Similarity.ivfBuild(corpus.filter(col("id") <= mid), dir,
        nList = 8, kmeansMaxIter = 2)
      TempDirs.using("q221_stage_") { case Seq(stage) =>
        // two staged files = two micro-batches: enough to exercise the
        // multi-batch append path without doubling the gate's job count
        val delta = corpus.filter(col("id") > mid)
        val files = stage + "/files"
        delta.repartition(2).write.parquet(files)
        val stream = s.readStream.schema(delta.schema)
          .option("maxFilesPerTrigger", "1").parquet(files)
        val q = Similarity.ivfIngest(stream, dir,
          stage + "/ckpt")
        try q.processAllAvailable()
        finally q.stop()
      }
      Similarity.ivfQuery(s, dir, queries, k = 3, nProbe = 8)
    }

  /** Streaming ingest gate for the COMPRESSED layout
    * ([[operators.Similarity.ivfPqIngest]]): q221's scaffold with
    * PQ-encoded appends — build on the older half, replay the newer
    * half as a two-file micro-batch stream through foreachBatch →
    * ivfPqAppend, then probe-all + refine-all over the grown index
    * must equal exact brute force (the lossy codes only order
    * candidates; exact refinement over every candidate decides). */
  def q227_knn_ivfpq_stream_ingest(s: SparkSession, d: String): DataFrame =
    annIndexGate(s, d, "q227_ivfpq_") { (queries, corpus, dir) =>
      val stats = corpus.agg(
        percentile_approx(col("id"), lit(0.5), lit(10000)),
        count(lit(1))).head()
      val mid = stats.getLong(0)
      Similarity.ivfPqBuild(corpus.filter(col("id") <= mid), dir,
        nList = 8, m = 4, nCodes = 8, kmeansMaxIter = 2)
      TempDirs.using("q227_stage_") { case Seq(stage) =>
        val delta = corpus.filter(col("id") > mid)
        val files = stage + "/files"
        delta.repartition(2).write.parquet(files)
        val stream = s.readStream.schema(delta.schema)
          .option("maxFilesPerTrigger", "1").parquet(files)
        val q = Similarity.ivfPqIngest(stream, dir,
          stage + "/ckpt")
        try q.processAllAvailable()
        finally q.stop()
      }
      Similarity.ivfPqQuery(s, dir, queries, corpus, k = 3, nProbe = 8,
        refineK = stats.getLong(1).toInt)
    }

  /** End-to-end GAME-training gate at fixture scale (reference
    * GameTrainingDriverIntegTest.scala:78-97 — the reference's de-facto
    * oracle is a full-CLI run over Yahoo-Music-shaped data, global
    * features plus per-user/per-song/per-artist intercepts, gated on a
    * golden validation RMSE). The dataset derives deterministically
    * from the events table so the SAME gate scales with the SF dir:
    * user = the fixture's user_id, item = event_id mod 101, artist =
    * item mod 13 (the song→artist nesting), features and per-entity
    * effects are hash-uniform, and
    * y = 0.5 + 2x1 − x2 + u·0.8 + i·0.6 + a·0.4 + ε, ε ∈ 0.05·[−1,1].
    * Training runs through the driver CLI surface (squared loss,
    * one-lambda grid, two coordinate sweeps) on the mod-5 split; the
    * gate emits what the oracle replays exactly — split sizes and
    * per-coordinate model counts — plus `rmse_ok`: validation RMSE
    * under 0.25, far below the ~0.62 fixed-effects-only floor (the
    * random effects must actually learn) yet safely above the 0.029
    * noise std. Hash-compared against literal TRUE, so a regressed
    * model FAILS the gate rather than shipping a quietly-worse RMSE. */
  def q228_game_train_e2e(s: SparkSession, d: String): DataFrame = {
    def u01(c: Column, salt: Int): Column =
      (pmod(xxhash64(c, lit(salt)), lit(2001L)) - lit(1000L)) / lit(1000.0)
    val data = T.events(s, d).select(
      col("event_id").as("id"), col("user_id").as("user"),
      pmod(col("event_id"), lit(101L)).as("item"))
      .withColumn("artist", pmod(col("item"), lit(13L)))
      .withColumn("x1", u01(col("id"), 1))
      .withColumn("x2", u01(col("id"), 2))
      .withColumn("y",
        lit(0.5) + lit(2.0) * col("x1") - col("x2") +
          u01(col("user"), 11) * 0.8 + u01(col("item"), 12) * 0.6 +
          u01(col("artist"), 13) * 0.4 + u01(col("id"), 99) * 0.05)
    TempDirs.using("q228_game_") { case Seq(root) =>
      // ONE corpus scan writes both splits (partitioned write) — two
      // filtered writes would read the events table twice, a real 2×
      // at the 100 TB input this models
      data.withColumn("_split",
        when(pmod(col("id"), lit(5L)) === 0, lit("valid"))
          .otherwise(lit("train")))
        .write.partitionBy("_split").parquet(s"$root/data")
      val train = s"$root/data/_split=train"
      val valid = s"$root/data/_split=valid"
      val (model, results) = graft.drivers.GameTrainingDriver.run(s,
        graft.drivers.Args.parse(Array(
          "--input-dir", train,
          "--validation-dir", valid,
          "--uid-col", "id", "--label-col", "y",
          "--feature-cols", "x1,x2",
          "--random-coordinates",
          "perUser:user,perItem:item,perArtist:artist",
          "--loss", "squared", "--lambdas", "0.01", "--re-lambda", "0.1",
          "--evaluator", "rmse", "--iterations", "2")))
      val rmse = results.head.metric
      def nModels(cid: String): Long = model.coordinates(cid)
        .asInstanceOf[graft.ml.CoordinateDescent.TrainedRandom]
        .models.count()
      import s.implicits._
      Seq((
        s.read.parquet(train).count(),
        s.read.parquet(valid).count(),
        nModels("perUser"), nModels("perItem"), nModels("perArtist"),
        rmse < 0.25))
        .toDF("n_train", "n_valid", "n_users", "n_items", "n_artists",
          "rmse_ok")
    }
  }

  /** q228's binary-classification twin (reference DriverTest.scala's
    * heart-scale logistic runs and the AUC evaluator of
    * GameTrainingDriverIntegTest): the Yahoo-Music-shaped fixture with
    * the label the SIGN of an ENTITY-DOMINATED margin
    * (y = 1 iff 0.7x1 − 0.5x2 + u·1.2 + i·0.9 + a·0.5 + ε > 0, ε ∈
    * 0.1·[−1,1], ~50/50 by symmetry; item = id mod 31 / artist = item
    * mod 7 keep every intercept's sample count high enough that the
    * unregularized per-entity logistic fits don't overfit even at
    * sf0.001), trained `--loss logistic --evaluator auc` through the
    * full CLI surface. Gate: `auc_ok` = validation AUC above 0.93 —
    * far over the ~0.71–0.77 fixed-effects-only ceiling measured at
    * sf0.001–0.1 (the per-entity intercepts must carry their share of
    * the margin through the LOGISTIC link, not just the squared-loss
    * closed form q228 rides; measured full-model AUC 0.985–0.995) —
    * hash-compared against literal TRUE. Split/entity counts replay in
    * DuckDB exactly as in q228 (pmod-normalized). */
  def q231_game_train_logistic(s: SparkSession, d: String): DataFrame = {
    def u01(c: Column, salt: Int): Column =
      (pmod(xxhash64(c, lit(salt)), lit(2001L)) - lit(1000L)) / lit(1000.0)
    val data = T.events(s, d).select(
      col("event_id").as("id"), col("user_id").as("user"),
      pmod(col("event_id"), lit(31L)).as("item"))
      .withColumn("artist", pmod(col("item"), lit(7L)))
      .withColumn("x1", u01(col("id"), 1))
      .withColumn("x2", u01(col("id"), 2))
      .withColumn("y",
        (lit(0.7) * col("x1") - lit(0.5) * col("x2") +
          u01(col("user"), 11) * 1.2 + u01(col("item"), 12) * 0.9 +
          u01(col("artist"), 13) * 0.5 + u01(col("id"), 99) * 0.1 > 0)
          .cast("double"))
    TempDirs.using("q231_game_") { case Seq(root) =>
      data.withColumn("_split",
        when(pmod(col("id"), lit(5L)) === 0, lit("valid"))
          .otherwise(lit("train")))
        .write.partitionBy("_split").parquet(s"$root/data")
      val train = s"$root/data/_split=train"
      val valid = s"$root/data/_split=valid"
      val (model, results) = graft.drivers.GameTrainingDriver.run(s,
        graft.drivers.Args.parse(Array(
          "--input-dir", train,
          "--validation-dir", valid,
          "--uid-col", "id", "--label-col", "y",
          "--feature-cols", "x1,x2",
          "--random-coordinates",
          "perUser:user,perItem:item,perArtist:artist",
          "--loss", "logistic", "--lambdas", "0.01", "--re-lambda", "0.1",
          "--evaluator", "auc", "--iterations", "2")))
      val auc = results.head.metric
      def nModels(cid: String): Long = model.coordinates(cid)
        .asInstanceOf[graft.ml.CoordinateDescent.TrainedRandom]
        .models.count()
      import s.implicits._
      Seq((
        s.read.parquet(train).count(),
        s.read.parquet(valid).count(),
        nModels("perUser"), nModels("perItem"), nModels("perArtist"),
        auc > 0.93))
        .toDF("n_train", "n_valid", "n_users", "n_items", "n_artists",
          "auc_ok")
    }
  }

  /** Incremental (prior-seeded) retraining through the CLI surface
    * against its EXACT posterior (reference GameEstimator.scala:777-798
    * + GameTrainingDriverIntegTest's incremental variants; the in-lib
    * arithmetic is q149's) on the degenerate sub-case where the whole
    * pipeline has a closed form: 1 feature + intercept, squared loss.
    * Phase 1 trains ridge(λ) on the even-uid half of `embeddings` and
    * SAVES it (`--output-dir`); phase 2 retrains on the odd half with
    * `--prior-model-dir --incremental-weight ω` — the saved
    * coefficients become the Gaussian prior's means, and the variances
    * default to 1 (the phase-1 save carries none), so the posterior
    * solves (A₂ + ωI)·θ = b₂ + ω·θ₁. The DuckDB oracle replays BOTH
    * 2×2 normal systems by Cramer — a drift anywhere in save → load →
    * prior construction → regularized solve moves a coefficient and
    * fails the hash. */
  def q232_game_train_incremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pts = T.embeddings(s, d).select(
      col("vec_id").cast("long").as("uid"),
      col("label").cast("double").as("y"),
      element_at(col("embedding"), 4).cast("double").as("x"))
    TempDirs.using("q232_incr_") { case Seq(root) =>
      pts.withColumn("_split",
        when(pmod(col("uid"), lit(2L)) === 0, lit("d1")).otherwise(lit("d2")))
        .write.partitionBy("_split").parquet(s"$root/data")
      def base(split: String) = Array(
        "--input-dir", s"$root/data/_split=$split",
        "--uid-col", "uid", "--label-col", "y", "--feature-cols", "x",
        "--loss", "squared", "--lambdas", "0.05", "--iterations", "1")
      val (m1, _) = graft.drivers.GameTrainingDriver.run(s,
        graft.drivers.Args.parse(base("d1") ++
          Array("--output-dir", s"$root/m1")))
      val (m2, _) = graft.drivers.GameTrainingDriver.run(s,
        graft.drivers.Args.parse(base("d2") ++ Array(
          "--prior-model-dir", s"$root/m1/best-model",
          "--incremental-weight", "2.0")))
      def fixed(m: graft.ml.CoordinateDescent.GameModel) =
        m.coordinates("global")
          .asInstanceOf[graft.ml.CoordinateDescent.TrainedFixed].model
      val (g1, g2) = (fixed(m1), fixed(m2))
      Seq((rnd6(g1.coef(0) + 1e-9), rnd6(g1.intercept + 1e-9),
        rnd6(g2.coef(0) + 1e-9), rnd6(g2.intercept + 1e-9)))
        .toDF("w1", "b1", "w2", "b2")
    }
  }

  /** GAME SCORING lifecycle e2e (reference GameScoringDriver.scala:
    * 136-197): a hand-specified model — global (w=(2,−1), b=0.5) plus
    * per-user and per-item intercept models — is SAVED with
    * [[sources.ModelIO.saveGame]], then the scoring driver loads it and
    * scores the events fixture through the full prepare → load → score
    * path. Every model coefficient and feature is a pmod rational of
    * the ids, so the DuckDB oracle replays the whole scoring sum
    * score = b + w·x + intercept_user + intercept_item in plain SQL —
    * value-exact per uid, not just row counts. Broadcast/hash-join
    * scoring shape is q05/q91's; what this gates is the driver wiring:
    * metadata round-trip, reId column projection, full-outer score
    * algebra across three coordinates. */
  def q233_game_score_e2e(s: SparkSession, d: String): DataFrame = {
    import graft.ml.CoordinateDescent.{FixedSpec, GameModel, RandomSpec,
      TrainedFixed, TrainedRandom}
    val data = T.events(s, d).select(
      col("event_id").as("id"), col("user_id").as("user"),
      pmod(col("event_id"), lit(101L)).as("item"),
      (pmod(col("event_id"), lit(7L)).cast("double") / 7.0).as("x1"),
      (pmod(col("event_id"), lit(11L)).cast("double") / 11.0).as("x2"))
    val emptyCoef = array().cast("array<double>")
    val noVar = lit(null).cast("array<double>")
    val users = data.select(col("user")).distinct()
      .select(col("user").cast("string").as("reId"),
        emptyCoef.as("coef"),
        (pmod(col("user"), lit(9L)).cast("double") / 10.0).as("intercept"),
        noVar.as("variances"))
    val items = data.select(col("item")).distinct()
      .select(col("item").cast("string").as("reId"),
        emptyCoef.as("coef"),
        (pmod(col("item"), lit(5L)).cast("double") / 20.0).as("intercept"),
        noVar.as("variances"))
    val cfg = graft.ml.GlmConfig(graft.ml.SquaredLoss)
    val model = GameModel(Map(
      "global" -> TrainedFixed(FixedSpec("global", "features", 2, cfg),
        graft.ml.GlmModel(Array(2.0, -1.0), 0.5, "squared", None)),
      "perUser" -> TrainedRandom(
        RandomSpec("perUser", "user", "emptyFeatures", 0, cfg), users),
      "perItem" -> TrainedRandom(
        RandomSpec("perItem", "item", "emptyFeatures", 0, cfg), items)))
    TempDirs.using("q233_score_") { case Seq(root) =>
      data.write.parquet(s"$root/data")
      graft.sources.ModelIO.saveGame(s, model, s"$root/model")
      val scores = graft.drivers.GameScoringDriver.run(s,
        graft.drivers.Args.parse(Array(
          "--input-dir", s"$root/data",
          "--model-dir", s"$root/model",
          "--uid-col", "id", "--label-col", "x1",
          "--feature-cols", "x1,x2",
          "--random-coordinates", "perUser:user,perItem:item")))
      // materialize (lineage-truncated) before the staging dir is
      // deleted — the gate's caller consumes the frame AFTER this
      // function returns, when the source files are gone
      scores
        .select(col("uid"), round(col("score") + lit(1e-9), 6).as("score"))
        .localCheckpoint()
    }
  }

  /** FLEET-mode maintenance planning ([[operators.Similarity
    * .indexMaintenancePlan]] over a UNION of health rows — the claim at
    * its docstring that it "runs over a one-row report or a
    * million-index fleet table identically", which every other gate
    * exercises one row at a time). Three real indexes in three states:
    *   1. healthy — fresh build (one file per list by construction of
    *      the repartition(list) write), probe-all recall 1.0 → `none`;
    *   2. fragmented — build + append (new files inside hit lists),
    *      probe-all keeps recall exact → `compact`, proving file count
    *      alone triggers without recall involvement;
    *   3. recall-decayed — a FIXED 4-cluster geometric corpus (SF-
    *      independent, so the measured recall is the same constant
    *      everywhere): each query's top-2 sit in its own cluster's list
    *      and the 3rd strictly in the next cluster's, so nProbe=1
    *      recall is exactly 2/3 < 0.9 → `rebuild` (checked BEFORE the
    *      file ceiling — a decayed index must refit, not merely
    *      defragment).
    * One plan call over the 3-row fleet; the oracle pins all three
    * actions. */
  def q234_fleet_maintenance_plan(s: SparkSession, d: String): DataFrame = {
    val (queries, corpus) = knnSplit(T.embeddings(s, d))
    val mid = corpus.agg(
      percentile_approx(col("id"), lit(0.5), lit(10000))).head().getLong(0)
    val (decCorpus, decQueries) = FX.decayed(s)
    val ivf = Ivf(nList = 8, kmeansMaxIter = 2)
    TempDirs.using("q234_ok_", "q234_frag_", "q234_dec_") {
      case Seq(okDir, fragDir, decDir) =>
      // three independent indexes: build them (and below, run their
      // eager recall probes) concurrently — the fleet-parallel shape,
      // identical results
      inParallel(
        () => ivf.build(s, corpus, okDir),
        () => {
          ivf.build(s, corpus.filter(col("id") <= mid), fragDir)
          ivf.append(s, fragDir, corpus.filter(col("id") > mid))
        },
        () => Ivf(nList = 4, kmeansMaxIter = 10).build(s, decCorpus, decDir))
      val healths = inParallel(
        () => Similarity.ivfIndexHealth(s, okDir, queries, k = 3, nProbe = 8),
        () => Similarity.ivfIndexHealth(s, fragDir, queries, k = 3,
          nProbe = 8),
        () => Similarity.ivfIndexHealth(s, decDir, decQueries, k = 3,
          nProbe = 1))
      val plan = Similarity.indexMaintenancePlan(
        Fleet.healthUnion("idx", (1 to 3).zip(healths)),
        recallFloor = 0.9, maxFilesPerListCeiling = 1)
        .select(col("idx"), col("action"))
      plan.localCheckpoint()
    }
  }

  /** PERSISTED decontamination index lifecycle
    * ([[operators.Decontamination.decontamIndexBuild]]/`Append`/
    * `Report`): the benchmark suite's distinct shingles are written
    * ONCE (here in two installments — build on the even-id half of the
    * src0 benchmark, append the odd half, exercising the anti-join
    * suite-update path), then the candidate batch probes the FILES —
    * the daily-pipeline workflow where eval text is never re-shingled
    * per run. Probing the fully-assembled index must equal q58's
    * direct two-sided report exactly, so the oracle is q58's SQL
    * verbatim. */
  def q235_decontam_index(s: SparkSession, d: String): DataFrame = {
    TempDirs.using("q235_decontam_") { case Seq(root) =>
      val docs = benchIndex(s, d, root)
      Decontamination.decontamIndexReport(s, root,
        docs.filter(col("source") =!= "src0"), "doc_id", "text")
        .localCheckpoint()
    }
  }

  /** PERSISTED MinHash-LSH near-dup index lifecycle
    * ([[operators.Dedup.minhashIndexBuild]]/`Append`/`Probe`): the base
    * corpus's banded signature table — the thing
    * `incrementalMinhashLsh` documents as "what a production pipeline
    * persists between batches" — written once (here in two
    * installments: build on src0–src2, append src3–src4), then the
    * ingest batch probes the FILES; the base is never re-signed and
    * only candidate base ids fetch text for the exact-Jaccard verify.
    * Must equal q116's two-sided incremental run exactly, so the
    * oracle is q116's SQL verbatim. */
  def q236_minhash_index(s: SparkSession, d: String): DataFrame = {
    TempDirs.using("q236_minhash_") { case Seq(root) =>
      val (docs, base) = baseIndex(s, d, MinHash(idCol = "doc_id"), root)
      // the probe eagerly materializes its own result (it releases the
      // per-probe signature cache before returning) — no extra
      // checkpoint needed before the staging dir is deleted
      Dedup.minhashIndexProbe(s, root,
        docs.filter(!col("source").isInCollection(BaseSrc)), base,
        "doc_id", "text")
    }
  }

  /** Health report of the persisted MinHash index
    * ([[operators.Dedup.minhashIndexHealth]]): the q220 shape for the
    * text-dedup side — size plus bucket-skew stats, because a hot LSH
    * bucket is this index's failure mode (the probe's guard silently
    * drops over-cap buckets, so `hot_buckets` rising means near-dups
    * go unreported). Every field replays in DuckDB from the q116
    * signature mirror over the same base sources — including the
    * bucket-size distribution behind `max_bucket`/`hot_buckets`
    * (max_bucket 4 at sf1; the fixture corpora never breach the 25
    * cap, so hot_buckets gates at 0 via the replayed CASE, and the
    * hot-path semantics are spec-pinned by dropHotBuckets's own
    * tests). */
  def q238_minhash_health(s: SparkSession, d: String): DataFrame = {
    TempDirs.using("q238_mhhealth_") { case Seq(root) =>
      val mh = MinHash(idCol = "doc_id", hotBucketCap = 25)
      baseIndex(s, d, mh, root)
      // dir/version/n_fragments are real but path- and write-layout-
      // dependent (a temp dir; file counts vary with parallelism), so
      // the gate pins the data-derived stats; the fragment/plan loop is
      // value-gated by q239's controlled fixture instead
      mh.health(s, root)
        .select("shingle_n", "sig_k", "n_bands", "total_rows",
          "n_buckets", "max_bucket", "hot_buckets")
        .localCheckpoint()
    }
  }

  /** CROSS-FAMILY fleet maintenance plan
    * ([[operators.Similarity.indexMaintenancePlan]] over an IVF health
    * row UNIONed with two [[operators.Dedup.minhashIndexHealth]] rows —
    * q234's pattern extended to the text family, closing the r12
    * verdict's "hot_buckets has no planner action" gap): one healthy
    * IVF index (probe-all recall 1.0 → `none`), one minhash index whose
    * single boilerplate bucket breaches the hot cap (`dedup_prepass` —
    * the probe guard is silently dropping its pairs; the fix is
    * collapsing the boilerplate, [[operators.Dedup
    * .minhashMaintenanceApply]], not a file rewrite), and one minhash
    * index carrying three append fragment sets over the ceiling
    * (`compact` → [[operators.Dedup.minhashIndexCompact]]). The fleet
    * table is a `unionByName(allowMissingColumns)` — absent columns are
    * NULL and NULL never triggers an action, so each family only trips
    * its own rules. All three verdicts are structural facts of the
    * constructed states (q234's oracle shape), pinned by the oracle. */
  def q239_fleet_text_plan(s: SparkSession, d: String): DataFrame = fixtureTuned(s) {
    import s.implicits._
    // healthy IVF fixture: 8 distinct axis-ish vectors, queried by
    // themselves at probe-all — recall exactly 1.0
    val (okCorpus, okQueries) = FX.decayed(s)
    // hot minhash fixture: 8 copies of one boilerplate line — every
    // band funnels them into ONE bucket of 8, over the cap of 5
    val hotDocs = (0L until 8L).map(i => (i, FX.boiler))
      .toDF("id", "text").repartition(1)
    val mh = MinHash(hotBucketCap = 5)
    TempDirs.using("q239_ivf_", "q239_hot_", "q239_frag_") {
      case Seq(ivfDir, hotDir, fragDir) =>
      Ivf(nList = 4, kmeansMaxIter = 10).build(s, okCorpus, ivfDir)
      mh.build(s, hotDocs, hotDir)
      // fragmented minhash fixture: distinct texts, built once then
      // appended three times (each a 1-file drop) — 4 fragments > 2
      mh.buildFragmented(s, FX.docs(s, FX.pangrams), fragDir, 3L, 6L)
      val fleet = Fleet.healthUnion("idx", Seq(
        1 -> Similarity.ivfIndexHealth(s, ivfDir, okQueries, k = 3,
          nProbe = 4),
        2 -> mh.health(s, hotDir), 3 -> mh.health(s, fragDir)))
      val plan = Similarity.indexMaintenancePlan(fleet,
        recallFloor = 0.9, maxFilesPerListCeiling = 10,
        maxFragmentsCeiling = 2)
        .select(col("idx"), col("action"))
      plan.localCheckpoint()
    }
  }

  /** PERSISTED SemDeDup state APPEND
    * ([[operators.Clustering.semDedupStateAppend]] — the r12 verdict's
    * "day-2 batch cannot see day-1's accepted batch" gap): the base
    * clustering saves once (q237's path), day-1's accepted batch folds
    * its frozen-centroid labels INTO the state, and day-2's batch
    * probes the files — its pairs now span base AND day-1 rows without
    * any re-cluster. Day-1 carries a PLANTED row (id −1, the exact
    * vector of day-2's lowest id) so the append path is load-bearing:
    * the probe must report that cosine-1.0 pair, and the planted row's
    * cluster id must agree between the append's assignment and the
    * oracle's frozen-centroid replay. The DuckDB mirror is q237's with
    * one more frozen assignment (base Lloyd CTEs → assign day-1 ∪
    * planted → assign day-2 → batch-involving pairs in touched
    * clusters). */
  def q240_semdedup_state_append(s: SparkSession, d: String): DataFrame = {
    val emb = T.embeddings(s, d)
    val base = emb.filter(col("vec_id") % 10 < 8)
    val day2 = emb.filter(col("vec_id") % 10 === 9)
    val m = day2.agg(min(col("vec_id"))).head().getLong(0)
    val planted = emb.filter(col("vec_id") === m)
      .select(lit(-1L).as("vec_id"), col("embedding"))
    val day1 = emb.filter(col("vec_id") % 10 === 8)
      .select(col("vec_id"), col("embedding"))
      .unionByName(planted)
    TempDirs.using("q240_semapp_") { case Seq(root) =>
      EmbSem.build(s, base, root)
      EmbSem.append(s, root, day1)
      // the vector table must cover every indexed id: base ∪ day-1
      val vecTable = base.select(col("vec_id"), col("embedding"))
        .unionByName(day1)
      operators.Clustering.semDedupIncrementalPersisted(s, root,
        vecTable, day2, "vec_id", "embedding", tau = 0.3)
    }
  }

  /** BAYESIAN hyperparameter tuning through the full GAME CLI surface
    * ([[ml.tuning.GaussianProcessSearch]] via `--tuning bayesian` —
    * promoting the DriversSpec-only L18 coverage to a CORRECTNESS row,
    * the r12 verdict's #5): a deterministic-seed 4-trial ladder tunes
    * the fixed-effect lambda of a squared-loss model with one random
    * coordinate on the embeddings fixture. The gate pins the
    * integer-safe structural facts of the search: the ladder ran all 4
    * trials, every proposed lambda stayed inside the declared
    * [1e-4, 1e2] box, and the selected trial's metric is ≤ the worst's
    * AND ≤ every trial's (selectBest's contract — the verdict's sanity
    * bound). Metric VALUES are float-fragile across platforms, so they
    * stay out of the hash; model quality itself is gated by
    * q228/q231. */
  def q241_tuning_bayesian(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pts = T.embeddings(s, d).select(
      col("vec_id").cast("long").as("uid"),
      col("label").cast("double").as("y"),
      element_at(col("embedding"), 1).cast("double").as("x1"),
      element_at(col("embedding"), 2).cast("double").as("x2"),
      pmod(col("vec_id"), lit(13L)).as("grp"))
    TempDirs.using("q241_tune_") { case Seq(root) =>
      pts.withColumn("_split",
        when(pmod(col("uid"), lit(5L)) === 0, lit("valid"))
          .otherwise(lit("train")))
        .write.partitionBy("_split").parquet(s"$root/data")
      val (_, results) = graft.drivers.GameTrainingDriver.run(s,
        graft.drivers.Args.parse(Array(
          "--input-dir", s"$root/data/_split=train",
          "--validation-dir", s"$root/data/_split=valid",
          "--uid-col", "uid", "--label-col", "y",
          "--feature-cols", "x1,x2",
          "--random-coordinates", "perGrp:grp",
          "--loss", "squared", "--evaluator", "rmse",
          "--tuning", "bayesian", "--tuning-iters", "4",
          "--tuning-min", "1e-4", "--tuning-max", "1e2",
          "--iterations", "1")))
      val best = graft.drivers.GameTrainingDriver.selectBest(results,
        "rmse")
      Seq((results.size.toLong,
        results.forall(r => r.lambda >= 1e-4 && r.lambda <= 1e2),
        best.metric <= results.map(_.metric).max,
        results.forall(r => best.metric <= r.metric)))
        .toDF("n_trials", "lambdas_in_box", "selected_le_worst",
          "selected_le_all")
    }
  }

  /** PERSISTED SimHash index ([[operators.Dedup.simhashIndexBuild]] /
    * append / probe — the third persisted text-dedup family): 16 bytes
    * (id, sig) per doc on disk, pigeonhole bands DERIVED from the
    * stored signature on scan, and Hamming verification on the very
    * signatures the candidate join carried — so unlike q236's MinHash
    * probe, the base corpus is never re-read in ANY form (no text
    * table). Built on src0–2, appended src3–4 (the lock/fragment
    * install path), probed by the remaining sources at q40's
    * maxHamming=16. The DuckDB oracle is q40's nibble-exact signature
    * mirror restricted to the delta×base side. */
  def q242_simhash_index(s: SparkSession, d: String): DataFrame = {
    TempDirs.using("q242_simhash_") { case Seq(root) =>
      val (docs, _) = baseIndex(s, d, SimHash(idCol = "doc_id"), root)
      Dedup.simhashIndexProbe(s, root,
        docs.filter(!col("source").isInCollection(BaseSrc)),
        "doc_id", "text", maxHamming = 16)
        .withColumn("hamming", col("hamming").cast("long"))
    }
  }

  /** Health report of the persisted SimHash index
    * ([[operators.Dedup.simhashIndexHealth]]): size plus bucket-skew
    * stats over the four 16-bit pigeonhole bands — a hot bucket means
    * the probe guard is silently dropping that boilerplate class's
    * pairs (q238's failure signal, SimHash family). Every data-derived
    * field replays in DuckDB from q40's signature mirror; dir/version/
    * n_fragments are path- and layout-dependent and are gated by the
    * controlled fixtures (q239 pattern) instead. */
  def q243_simhash_health(s: SparkSession, d: String): DataFrame = {
    TempDirs.using("q243_shhealth_") { case Seq(root) =>
      val sh = SimHash(idCol = "doc_id", hotBucketCap = 25)
      baseIndex(s, d, sh, root)
      sh.health(s, root)
        .select("total_rows", "n_buckets", "max_bucket", "hot_buckets")
        .localCheckpoint()
    }
  }

  /** Centroid-DRIFT probe of a persisted IVF index
    * ([[operators.Similarity.ivfDriftProbe]] → the
    * [[operators.Similarity.indexMaintenancePlan]] `driftRatioFloor`
    * rule): the cheap leading indicator of recall decay — no
    * brute-force side, one postings scan + one batch scan. Controlled
    * fixture (q234/q239's oracle shape): the corpus is the four axis
    * points of dims 0–3 in an 8-dim space, so k-means at k=4 converges
    * to the points themselves and `base_mean_sim` is exactly 1.0; the
    * HEALTHY batch is the corpus itself (ratio exactly 1.0 → `none`),
    * the DRIFTED batch lives in dims 4–7, orthogonal to every possible
    * centroid (batch similarity exactly 0.0, ratio 0.0 → `rebuild`).
    * All values exact constants, pinned by the oracle with the
    * planner's verdicts. */
  def q244_ivf_drift(s: SparkSession, d: String): DataFrame = {
    val corpus = FX.axes(s, 4)
    TempDirs.using("q244_drift_") { case Seq(root) =>
      Ivf(nList = 4, kmeansMaxIter = 10).build(s, corpus, root)
      driftPlan(Similarity.ivfDriftProbe(s, root, corpus),
        Similarity.ivfDriftProbe(s, root, FX.axes(s, 4, 100L, 4)))
    }
  }

  /** The drift gates' plan over a healthy and a drifted probe row. */
  private def driftPlan(healthy: DataFrame, drifted: DataFrame): DataFrame =
    Similarity.indexMaintenancePlan(Fleet.healthUnion("which",
      Seq("healthy" -> healthy, "drifted" -> drifted)), recallFloor = 0.0,
      maxFilesPerListCeiling = Long.MaxValue, driftRatioFloor = 0.5)
      .select(col("which"),
        round(col("base_mean_sim"), 6).as("base_mean_sim"),
        round(col("batch_mean_sim"), 6).as("batch_mean_sim"),
        round(col("drift_ratio"), 6).as("drift_ratio"),
        col("action"))
      .localCheckpoint()

  /** Centroid+codebook DRIFT probe of a persisted IVF-PQ index
    * ([[operators.Similarity.ivfPqDriftProbe]] — q244's compressed
    * twin): the codes table stores no vectors, so the base side scores
    * each row's RECONSTRUCTION (concat of its codebook entries) against
    * its list centroid, folding coarse drift and codebook staleness
    * into one ratio. Controlled fixture as q244, with m=4/nCodes=4 so
    * every 2-dim subvector slice of the axis corpus is exactly
    * representable — reconstruction is exact, `base_mean_sim` is
    * exactly 1.0, and the drifted batch (dims 4–7, orthogonal to every
    * centroid) pins ratio 0.0 → `rebuild`. */
  def q248_ivfpq_drift(s: SparkSession, d: String): DataFrame = {
    val corpus = FX.axes(s, 4)
    TempDirs.using("q248_pqdrift_") { case Seq(root) =>
      IvfPq(nList = 4, m = 4, nCodes = 4, kmeansMaxIter = 10)
        .build(s, corpus, root)
      driftPlan(Similarity.ivfPqDriftProbe(s, root, corpus),
        Similarity.ivfPqDriftProbe(s, root, FX.axes(s, 4, 100L, 4)))
    }
  }

  /** DAILY-INGEST pipeline over PERSISTED state — the operational
    * composition every index in this package exists for, in one gate:
    * the benchmark suite (src0) is indexed once
    * ([[operators.Decontamination.decontamIndexBuild]]), the base
    * corpus (src1–4) is signed once
    * ([[operators.Dedup.minhashIndexBuild]]), and the DAY'S BATCH
    * (src5+) is admitted through four stages touching only the files
    * and the batch — the base corpus is never re-scanned in text form
    * except for the probe's candidate-id fetches:
    *  1. quality floor (token count ≥ 5, q21's codegen counter),
    *  2. exact dedup vs base hashes AND earlier-in-batch keepers
    *     ([[operators.Dedup.incrementalExact]], q81's semantics),
    *  3. near-dup vs the persisted MinHash index at J ≥ 0.5
    *     ([[operators.Dedup.minhashIndexProbe]], q116/q236's kernel),
    *  4. benchmark decontamination via the persisted shingle index
    *     ([[operators.Decontamination.decontamIndexReport]], q58/q235).
    * One row per batch doc with each verdict and the final `accepted`
    * conjunction — the DuckDB mirror replays all four stages from the
    * shared shingle/token CTEs. */
  def q249_daily_ingest(s: SparkSession, d: String): DataFrame = {
    val (bench, base, batch) = ingestSplit(s, d)
    TempDirs.using("q249_mh_", "q249_dc_") { case Seq(mhDir, dcDir) =>
      Fleet.build(s, Seq((MinHash("doc_id"), base, mhDir),
        (Decontam(), bench, dcDir)))
      val exactFlag = Dedup.incrementalExact(batch, base, "doc_id",
        "text")
      val nearIds = Dedup.minhashIndexProbe(s, mhDir, batch, base,
        "doc_id", "text", threshold = 0.5)
        .select(col("delta_id").as("doc_id")).distinct()
        .withColumn("_near", lit(true))
      val contam = Decontamination.decontamIndexReport(s, dcDir, batch,
        "doc_id", "text")
        .select(col("doc_id"), col("is_contaminated"))
      batch.select(col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens"))
        .join(exactFlag, Seq("doc_id"))
        .join(nearIds, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          (!col("is_new")).as("is_dup_exact"),
          coalesce(col("_near"), lit(false)).as("is_neardup"),
          col("is_contaminated"),
          (col("n_tokens") >= 5 && col("is_new") &&
            !coalesce(col("_near"), lit(false)) &&
            !col("is_contaminated")).as("accepted"))
        .localCheckpoint()
    }
  }

  /** PERSISTED exact-hash index ([[operators.Dedup.exactIndexBuild]] /
    * `Append` / `Probe` — the seventh persisted family, and the table
    * [[operators.Dedup.incrementalExact]]'s contract promises: "at
    * scale that set is a stored table, not a rescan"): one md5 per
    * distinct base text on disk, batch probes are one hash projection
    * + one semi-join against the files, duplicate stored hashes
    * (append is dedupe-free by design — an anti-join would rescan the
    * corpus-sized table per batch) cannot change verdicts. Built on
    * src1–2, appended src3–4, probed by src5+. */
  def q250_exact_index(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    val ex = Exact("doc_id")
    TempDirs.using("q250_exact_") { case Seq(root) =>
      ex.build(s,
        docs.filter(col("source").isInCollection(Seq("src1", "src2"))), root)
      ex.append(s, root,
        docs.filter(col("source").isInCollection(Seq("src3", "src4"))))
      Dedup.exactIndexProbe(s, root,
        docs.filter(!col("source").isInCollection(BaseSrc)), "doc_id", "text")
        .localCheckpoint()
    }
  }

  /** STREAMING admission against persisted curation state
    * ([[operators.CorpusPipeline.streamingAdmission]] — the continuous
    * face of q249's daily ingest): the day's batch is staged as
    * multi-file parquet by a distributed write (q209's file-source
    * convention — input never passes through the driver) and replayed
    * through `readStream` + `maxFilesPerTrigger`, each micro-batch
    * running the order-independent admission kernel (quality floor +
    * persisted exact-hash probe + persisted MinHash probe + persisted
    * decontam probe) and appending verdict rows. Because every verdict
    * depends only on its own row and the index FILES, the accumulated
    * sink CONVERGES to the one-shot batch result whatever the trigger
    * cadence — the DuckDB mirror is that batch result's SQL. */
  def q251_streaming_admission(s: SparkSession, d: String): DataFrame = {
    val (bench, base, batch) = ingestSplit(s, d)
    TempDirs.using("q251_ex_", "q251_mh_", "q251_dc_", "q251_stage_",
        "q251_out_", "q251_ckpt_") {
      case Seq(exDir, mhDir, dcDir, stageDir, outDir, ckptDir) =>
      // four independent destinations — build concurrently
      admissionIndexes(s, "doc_id", base, bench, exDir, mhDir, dcDir,
        () => batch.select(col("doc_id"), col("text")).repartition(6)
          .write.parquet(stageDir))
      val stream = s.readStream
        .schema(org.apache.spark.sql.types.StructType(
          batch.select(col("doc_id"), col("text")).schema.fields))
        .option("maxFilesPerTrigger", "2")
        .parquet(stageDir)
      val q = operators.CorpusPipeline.streamingAdmission(stream, exDir,
        mhDir, dcDir, base, outDir, ckptDir)
      try q.processAllAvailable()
      finally q.stop()
      s.read.parquet(outDir).localCheckpoint()
    }
  }

  /** ADMISSION FUNNEL by source — the data-ops dashboard over the
    * daily ingest: q249's per-doc verdicts aggregated per source into
    * (docs, quality failures, exact dups, near-dups, contaminated,
    * accepted). A souring source shows up here first (its near-dup or
    * contamination count jumps), which is what an operator actually
    * watches — per-doc verdicts are the audit trail, this is the
    * alert surface. Same persisted-index probes as q249; one extra
    * hash-aggregate over the verdict rows. Verdict counts are
    * independent flags (a doc can fail several stages), `n_accepted`
    * is the conjunction. */
  def q252_admission_funnel(s: SparkSession, d: String): DataFrame = {
    val (bench, base, batch) = ingestSplit(s, d)
    TempDirs.using("q252_ex_", "q252_mh_", "q252_dc_") {
      case Seq(exDir, mhDir, dcDir) =>
      admissionIndexes(s, "doc_id", base, bench, exDir, mhDir, dcDir)
      val verdicts = operators.CorpusPipeline.admitBatch(s, batch,
        exDir, mhDir, dcDir, base, "doc_id", "text")
      batch.select(col("doc_id"), col("source"))
        .join(verdicts, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("n_tokens") < 5, 1)).as("n_quality_fail"),
          count(when(col("is_dup_exact"), 1)).as("n_exact_dup"),
          count(when(col("is_neardup"), 1)).as("n_neardup"),
          count(when(col("is_contaminated"), 1)).as("n_contaminated"),
          count(when(col("accepted"), 1)).as("n_accepted"))
        .localCheckpoint()
    }
  }

  /** FLEET APPLY lifecycle ([[operators.Similarity
    * .fleetMaintenanceApply]] — the q247 planner's execution half,
    * oracle-gated): a four-family fleet in triggering states is
    * planned, applied in ONE call, and re-planned. The hot MinHash
    * index (corpus supplied) executes its dedup_prepass, the
    * fragmented SimHash and exact-hash indexes execute compactions,
    * and the hot SemDeDup state is SKIPPED (a re-cluster is a modeling
    * decision — per-row isolation, not an abort). The gate pins each
    * row's (family, action, status) and the post-apply re-plan action:
    * every executed family goes quiet (`none`), the skipped one still
    * demands its rebuild. All structural facts of the constructed
    * states. */
  def q253_fleet_apply(s: SparkSession, d: String): DataFrame = fixtureTuned(s) {
    import s.implicits._
    val hotDocs = (0L until 8L).map(i => (i, FX.boiler)).toDF("id", "text")
      .repartition(1)
    val fragDocs = FX.docs(s, FX.pangrams.take(4))
    def vv(c: Double) = Seq(c, c + 0.001)
    val semVecs = Seq((0L, vv(1.0)), (1L, vv(1.0)), (2L, vv(1.0)),
      (3L, vv(-5.0))).toDF("id", "vec")
    val (mh, sh, sem, ex) = (MinHash(hotBucketCap = 5), SimHash(),
      SemDeDup(k = 2, hotClusterCap = 2), Exact())
    TempDirs.using("q253_mh_", "q253_sh_", "q253_sem_", "q253_ex_") {
      case Seq(mhDir, shDir, semDir, exDir) =>
      // four independent writer-lock domains — build concurrently
      // (intra-family append order kept)
      inParallel(
        () => mh.build(s, hotDocs, mhDir),
        () => sh.buildFragmented(s, fragDocs, shDir, 2L, 4L),
        () => sem.build(s, semVecs, semDir),
        () => ex.buildFragmented(s, fragDocs, exDir, 1L, 4L))
      def plan() = Similarity.indexMaintenancePlan(
        Fleet.healthUnion("family", Seq(mh -> mhDir, sh -> shDir,
          sem -> semDir, ex -> exDir).map { case (f, dir) =>
            f.name -> f.health(s, dir) }),
        recallFloor = 0.9, maxFilesPerListCeiling = 10,
        maxFragmentsCeiling = 2, hotClustersCeiling = 0L)
      val report = Similarity.fleetMaintenanceApply(s, plan(),
        corpora = Map(mhDir -> hotDocs), parallelism = 4)
      val after = plan().select(col("dir"),
        col("action").as("action_after"))
      report.join(after, Seq("dir"))
        .select(col("family"), col("action"), col("status"),
          col("action_after"))
        .localCheckpoint()
    }
  }

  /** DELETE/retraction lifecycle across the persisted-index fleet
    * ([[operators.Manifest]]'s Tombstones — the erasure verb every
    * family's build/append/probe/compact loop otherwise lacks): four
    * families (exact-hash, MinHash, SimHash, IVF) each build on a
    * planted corpus, probe (the planted duplicate/neighbor reports),
    * DELETE the planted doc (probes fall silent IMMEDIATELY — the
    * stored side anti-joins pending tombstones), then compact (the
    * tombstones fold into the rewrite and `deleted_pending` returns
    * to 0). One row per (family, phase) pinning the probe hit count
    * involving the deleted key, the pending-retraction debt, and the
    * planner verdict under `tombstoneDebtCeiling = 0` (pending debt →
    * `compact`, folded → `none`). All values structural facts of the
    * constructed states — the q253 lifecycle-gate shape. */
  def q254_index_delete(s: SparkSession, d: String): DataFrame =
    fixtureTuned(s) {
    import s.implicits._
    val docs = FX.docs(s, FX.pangrams.take(4))
    // probe batch: fresh ids carrying the EXACT text of docs 0 and 1 —
    // both families must report them as duplicates until 1 is erased
    val probeDocs = Seq(100L -> FX.pangrams(0), 101L -> FX.pangrams(1))
      .toDF("id", "text").repartition(1)
    val corpus = FX.axes(s, 4)
    // query sits between axis points 1 and 2: nearest is 2 (cos .8);
    // after deleting 2 the nearest LIVE point is 1 (cos .6)
    val qv = { val a = new Array[Float](8); a(1) = 0.6f; a(2) = 0.8f; a }
    val planted = Map[Kind, Planted](
      Texts -> Planted(probeDocs, 1L, docs),
      Vectors -> Planted(Seq((0L, qv)).toDF("qid", "qv"), 2L, corpus))
    val fams = Seq(Exact(), MinHash(), SimHash(),
      Ivf(nList = 4, kmeansMaxIter = 2, nProbe = 4))
    TempDirs.using("q254_ex_", "q254_mh_", "q254_sh_", "q254_ivf_") { dirs =>
      val fleet = fams.zip(dirs)
      // the four families are independent writer-lock domains — their
      // builds (and below, probes/deletes/compactions) run
      // CONCURRENTLY, the shape a fleet maintenance loop actually has;
      // at fixture scale each is scheduler-latency-bound so the overlap
      // is ~4x
      Fleet.build(s, fleet.map { case (f, dir) =>
        (f, if (f.kind == Vectors) corpus else docs, dir) })
      // the four probe hit-counts collapse into ONE collect and the
      // four health rows into ONE plan collect — this gate runs 3
      // phases × 4 families, and at fixture scale the cost is Spark
      // ACTION count, not data
      def hits(): Map[String, Long] = Fleet.hitCounts(inParallel(
        fleet.map { case (f, dir) =>
          () => f.name -> f.hits(s, dir, planted(f.kind)) }: _*))
      // light health for IVF (no recall probe): this gate verdicts on
      // tombstone debt alone, and its action column only consults
      // deleted_pending under tombstoneDebtCeiling=0
      def state(): Map[String, (Long, String)] =
        Similarity.indexMaintenancePlan(Fleet.healthUnion("family",
          fleet.map { case (f, dir) => f.name -> f.health(s, dir) }),
          recallFloor = 0.0, maxFilesPerListCeiling = Long.MaxValue,
          tombstoneDebtCeiling = 0L)
          .select("family", "deleted_pending", "action")
          .collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2))))
          .toMap
      def phaseRows(phase: String): Seq[(String, String, Long, Long,
        String)] = {
        // hits and state are both read-only over the same immutable
        // manifest snapshots — overlap their collects too
        val (hh, st) = Fleet.both(hits(), state())
        hh.keys.toSeq.sorted.map(f =>
          (f, phase, hh(f), st(f)._1, st(f)._2))
      }
      val before = phaseRows("1_before")
      val doomed = Map[Kind, DataFrame](
        Texts -> docs.filter(col("id") === 1L),
        Vectors -> corpus.filter(col("id") === 2L))
      inParallel(fleet.map { case (f, dir) =>
        () => f.delete(s, dir, doomed(f.kind)) }: _*)
      val deleted = phaseRows("2_deleted")
      inParallel(fleet.map { case (f, dir) => () => f.compact(s, dir) }: _*)
      val compacted = phaseRows("3_compacted")
      (before ++ deleted ++ compacted)
        .toDF("family", "phase", "n_hits", "deleted_pending", "action")
        .localCheckpoint()
    }
    }

  /** Cross-family admission ATOMICITY gate
    * ([[operators.CorpusPipeline.fleetIngestReconcile]] +
    * the appends' ingest log): a three-family fleet (exact-hash,
    * MinHash, SimHash) accepts batch b1 everywhere, then CRASHES
    * mid-admission of b2 — after the exact and MinHash appends, before
    * the SimHash one. Nothing else in the system can see that
    * divergence (a b2 doc is exact-indexed, so its exact dup probes
    * work, but its signature is missing, so SimHash near-dup probes
    * silently pass forever). The reconcile diffs each family's logged
    * batch-id set and emits exactly the (b2, simhash) repair row; the
    * repair re-append converges the fleet and the re-probe finds the
    * previously-invisible near-dup. Structural facts pinned per phase:
    * gap count, the gap itself, and the post-repair probe hit. */
  def q255_ingest_reconcile(s: SparkSession, d: String): DataFrame = fixtureTuned(s) {
    import s.implicits._
    def one(id: Long, text: String) =
      Seq(id -> text).toDF("id", "text").repartition(1)
    val base = one(0L, FX.pangrams(0))
    val b1 = one(10L, FX.pangrams(1))
    val b2 = one(20L, FX.pangrams(2))
    val (ex, mh, sh) = (Exact(), MinHash(), SimHash())
    TempDirs.using("q255_ex_", "q255_mh_", "q255_sh_") {
      case Seq(exDir, mhDir, shDir) =>
      // three independent writer-lock domains — build concurrently
      Fleet.build(s, Seq((ex, base, exDir), (mh, base, mhDir),
        (sh, base, shDir)))
      val fams = Map("exact" -> exDir, "minhash" -> mhDir,
        "simhash" -> shDir)
      def gapState(): (Long, String) = {
        val rows = operators.CorpusPipeline
          .fleetIngestReconcile(s, fams)
          .select("family", "batch_id").collect()
          .map(r => s"${r.getString(0)}:${r.getString(1)}").sorted
        (rows.length.toLong, rows.mkString(","))
      }
      def shProbeHits(): Long = sh.hits(s, shDir,
        Planted(Seq(30L -> FX.pangrams(2)).toDF("id", "text"), 20L, b2))
        .count()
      // b1 admits everywhere; b2's admission crashes before SimHash
      Seq(("b1", b1, true), ("b2", b2, false)).foreach {
        case (bid, batch, full) =>
          ex.append(s, exDir, batch, Some(bid))
          mh.append(s, mhDir, batch, Some(bid))
          if (full) sh.append(s, shDir, batch, Some(bid))
      }
      val (nGap1, gap1) = gapState()
      val hits1 = shProbeHits()
      // repair: MECHANICAL since r15 — fleetIngestRepair executes the
      // reconcile's (b2, simhash, re_append) row from the supplied
      // batch, logging the batch id in the same locked span
      val repaired = operators.CorpusPipeline.fleetIngestRepair(s,
        operators.CorpusPipeline.fleetIngestReconcile(s, fams),
        Map("b2" -> b2), "id", "text")
      require(repaired.filter(col("status") === "executed")
        .count() == 1L, "the one flagged gap must repair")
      val (nGap2, gap2) = gapState()
      val hits2 = shProbeHits()
      Seq(("1_after_crash", nGap1, gap1, hits1),
        ("2_after_repair", nGap2, gap2, hits2))
        .toDF("phase", "n_gaps", "gaps", "simhash_probe_hits")
        .localCheckpoint()
    }
  }

  /** PERSISTED admission-funnel history + SOURING-SOURCE detector
    * ([[operators.CorpusPipeline.admissionFunnelAppend]] /
    * [[operators.CorpusPipeline.souringSources]] — the time axis the
    * q252 in-memory funnel lacks): three daily batches from two
    * sources run the persisted-index admission kernel, each day's
    * per-source funnel appends to the ops history, and the detector
    * compares every (day, source) near-dup RATE against that source's
    * trailing mean (window 2, ratio ceiling 2). Source s2 sours on
    * day 2 (one of two docs near-dups the base corpus) and fully on
    * day 3 (both docs) while s1 stays clean — the verdicts, rates,
    * and trailing means are structural facts of the planted fixture
    * (the near-dup texts extend the base doc by one token: 4 of 5
    * shingles shared, J = 0.8 ≥ 0.5). */
  def q256_funnel_history(s: SparkSession, d: String): DataFrame = fixtureTuned(s) {
    import s.implicits._
    val base = Seq((0L, "alpha beta gamma delta epsilon zeta"))
      .toDF("id", "text").repartition(1)
    val bench = Seq((100L,
      "secret evaluation question regarding ancient sphinxes"))
      .toDF("id", "text").repartition(1)
    def nd(t: String) = s"alpha beta gamma delta epsilon zeta $t"
    val days: Seq[(String, Seq[(Long, String, String)])] = Seq(
      "2024-01-01" -> Seq(
        (11L, "s1", "one two three four five six"),
        (12L, "s1", "seven eight nine ten eleven twelve"),
        (21L, "s2", "red green blue yellow purple orange"),
        (22L, "s2", "cat dog bird fish horse goat")),
      "2024-01-02" -> Seq(
        (13L, "s1", "north south east west up down"),
        (14L, "s1", "spring summer autumn winter morning evening"),
        (23L, "s2", nd("eta")),
        (24L, "s2", "copper iron silver gold tin lead")),
      "2024-01-03" -> Seq(
        (15L, "s1", "river lake ocean pond stream creek"),
        (16L, "s1", "window door wall floor roof ceiling"),
        (25L, "s2", nd("theta")),
        (26L, "s2", nd("iota"))))
    TempDirs.using("q256_ex_", "q256_mh_", "q256_dc_", "q256_hist_") {
      case Seq(exDir, mhDir, dcDir, histDir) =>
      admissionIndexes(s, "id", base, bench, exDir, mhDir, dcDir)
      days.foreach { case (day, rows) =>
        val batch = rows.toDF("id", "source", "text")
        val verdicts = operators.CorpusPipeline.admitBatch(s, batch,
          exDir, mhDir, dcDir, base, "id", "text")
        val funnel = batch.select(col("id"), col("source"))
          .join(verdicts, Seq("id"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("is_neardup"), 1)).as("n_neardup"),
            count(when(col("accepted"), 1)).as("n_accepted"))
        operators.CorpusPipeline.admissionFunnelAppend(s, histDir, day,
          funnel)
      }
      operators.CorpusPipeline.souringSources(s, histDir,
        window = 2, ratioCeiling = 2.0)
        .localCheckpoint()
    }
  }

  /** The daily-ingest loop CLOSED over persisted state (q249's
    * hygiene gap: admit but never append): day-1's batch (even
    * doc_ids of the non-base sources) is admitted through the
    * order-independent kernel, its ACCEPTED docs are appended back
    * into the exact-hash and MinHash indexes (one locked append each,
    * batch-id logged), and day-2's batch (odd doc_ids) is admitted
    * against the UPDATED indexes — a day-2 doc duplicating a day-1
    * acceptance is now caught, which is the whole point of appending.
    * The DuckDB mirror replays day-1's four verdict stages, extends
    * the hash set and the banded index with the accepted docs, and
    * re-runs day-2 against the extended state — every day-2 verdict
    * row is hash-gated. */
  def q257_ingest_append_loop(s: SparkSession, d: String): DataFrame = {
    val (bench, base, batchAll) = ingestSplit(s, d)
    val day1 = batchAll.filter(col("doc_id") % 2 === 0)
    val day2 = batchAll.filter(col("doc_id") % 2 === 1)
    TempDirs.using("q257_ex_", "q257_mh_", "q257_dc_") {
      case Seq(exDir, mhDir, dcDir) =>
      admissionIndexes(s, "doc_id", base, bench, exDir, mhDir, dcDir)
      val v1 = operators.CorpusPipeline.admitBatch(s, day1, exDir,
        mhDir, dcDir, base, "doc_id", "text")
      // MATERIALIZE the accepted set before mutating the indexes it
      // was computed against: a lazy acc1 re-evaluated after the
      // appends would probe the updated files and flag itself
      val acc1 = day1.select(col("doc_id"), col("text"))
        .join(v1.filter(col("accepted")).select("doc_id"),
          Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      inParallel(
        () => Exact("doc_id").append(s, exDir, acc1, Some("day1")),
        () => MinHash("doc_id").append(s, mhDir, acc1, Some("day1")))
      operators.CorpusPipeline.admitBatch(s, day2, exDir, mhDir, dcDir,
        base.select(col("doc_id"), col("text")).unionByName(acc1),
        "doc_id", "text")
        .localCheckpoint()
    }
  }

  /** CORPUS-REFRESH retraction applied fleet-wide
    * ([[operators.SnapshotDiff.diff]] →
    * [[operators.Similarity.fleetDelete]] — detection to application
    * in one composition, the GDPR/takedown path): a refreshed corpus
    * drops one document; the snapshot diff detects exactly that
    * `removed` id, fleetDelete dispatches the per-family tombstone
    * delete across a five-index fleet (exact-hash gets the doc text —
    * it is content-keyed; the shingle-keyed decontam index reports
    * `skipped`, its retraction being a rebuild), and every doc-keyed
    * probe that reported the planted duplicate/neighbor before goes
    * silent — while the SKIPPED family's probe still fires, pinning
    * that the skip is real. One row per family: (family, status,
    * n_removed, hits_before, hits_after), all structural facts. */
  def q258_fleet_delete(s: SparkSession, d: String): DataFrame = fixtureTuned(s) {
    import s.implicits._
    val v1 = FX.docs(s, FX.pangrams.take(4))
    // the refresh drops doc 1 (the takedown) and keeps the rest
    val v2 = v1.filter(col("id") =!= 1L)
    val probeDocs = Seq(101L -> FX.pangrams(1)).toDF("id", "text")
      .repartition(1)
    val vecs = FX.axes(s, 4)
    // query nearest doc 1's vector; after the erasure the best LIVE
    // neighbor is doc 2's
    val qv = { val a = new Array[Float](8); a(1) = 0.8f; a(2) = 0.6f; a }
    val planted = Map[Kind, Planted](
      Texts -> Planted(probeDocs, 1L, v1),
      Vectors -> Planted(Seq((0L, qv)).toDF("qid", "qv"), 1L, vecs))
    val fams = Seq(Exact(), MinHash(), SimHash(),
      Ivf(nList = 4, kmeansMaxIter = 2, nProbe = 4), Decontam())
    TempDirs.using("q258_ex_", "q258_mh_", "q258_sh_", "q258_ivf_",
        "q258_dc_") { dirs =>
      val fleet = fams.zip(dirs)
      // five independent writer-lock domains — build concurrently; the
      // decontam index holds doc 1's shingles too: the family the fleet
      // delete must SKIP (shingle-keyed)
      Fleet.build(s, fleet.map { case (f, dir) => (f,
        if (f.kind == Vectors) vecs
        else if (f.docKeyed) v1 else v1.filter(col("id") === 1L), dir) })
      def hits(): Map[String, Long] = Fleet.hitCounts(fleet.map {
        case (f, dir) => f.name -> f.hits(s, dir, planted(f.kind)) })
      val before = hits()
      // detection: the refresh diff — its `removed` rows ARE the
      // fleet delete's input
      val removed = operators.SnapshotDiff.diff(v1, v2, "id",
        Seq("text")).filter(col("status") === "removed")
        .join(v1, Seq("id"))
        .select(col("id"), col("text")).localCheckpoint(true)
      val nRemoved = removed.count()
      // application: one call erases the doc across the whole fleet
      val report = Similarity.fleetDelete(s, dirs, removed, "id",
        textCol = Some("text"), parallelism = 5)
        .select("dir", "status").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val after = hits()
      fleet.map { case (f, dir) =>
        (f.name, report(dir), nRemoved, before(f.name), after(f.name))
      }.sortBy(_._1)
        .toDF("family", "status", "n_removed", "hits_before",
          "hits_after")
        .localCheckpoint()
    }
  }

  /** Fleet-wide ERASURE-COMPLETION lifecycle across ALL SEVEN persisted
    * families ([[operators.Similarity.fleetDelete]] +
    * [[operators.Similarity.fleetEraseAudit]] — the GDPR evidence
    * artifact): exact-hash, MinHash, SimHash, IVF, IVF-PQ, SemDeDup,
    * and decontam each index a planted corpus; one fleetDelete call
    * retracts the doomed doc everywhere (the shingle-keyed decontam
    * family EXECUTES its rebuild retraction from the remaining suites
    * instead of skipping — its retiree-unique shingles vanish
    * immediately, no tombstone debt); each doc-keyed family compacts;
    * and the audit pins, per (family, phase), the doomed keys'
    * PHYSICAL row count in the live file set, the EXPECTED residue
    * (doomed shingles a remaining suite also claims — here exactly
    * one, "with five dozen", shared with remaining doc 3), the
    * pending-tombstone debt, and the one-boolean `complete` verdict a
    * takedown process files — decidable for every family now that the
    * audit computes the legitimate residue itself instead of punting
    * it to the caller. Doc-keyed families stay incomplete until their
    * fold (the tombstone hides rows but disk still carries them —
    * exactly what the audit must not miss); post-fold every doc-keyed
    * family reads (0, 0, 0, true) and decontam keeps its explained
    * residue row (1, 1, 0, true). All values structural facts of the
    * constructed states. */
  def q259_fleet_erase_audit(s: SparkSession, d: String): DataFrame =
    fixtureTuned(s) {
    import s.implicits._
    // doc 3 SHARES one 3-gram ("with five dozen") with the doomed doc
    // 1: the decontam rebuild keeps that shingle BY DESIGN (a remaining
    // suite claims it), and the audit — given the same remaining-suites
    // input the rebuild took — COMPUTES that expected residue and
    // reports complete=true with the residue explained, instead of
    // punting the judgment to the caller (the r15 undecidability gap)
    val docs = FX.docs(s, FX.pangrams.take(3) :+
      "sphinx of black quartz with five dozen arrows")
    val doomed = docs.filter(col("id") === 1L).localCheckpoint(true)
    val remaining = docs.filter(col("id") =!= 1L)
    val rows = Map[Kind, DataFrame](Texts -> docs, Vectors -> FX.axes(s, 4),
      Embeddings -> (0 until 4).map(c => (c.toLong, FX.axisD(c)))
        .toDF("id", "vec"))
    val fams = Seq(Exact(), MinHash(), SimHash(),
      Ivf(nList = 2, kmeansMaxIter = 2),
      IvfPq(nList = 2, m = 2, nCodes = 2), SemDeDup(k = 2), Decontam())
    TempDirs.using("q259_ex_", "q259_mh_", "q259_sh_", "q259_ivf_", "q259_pq_",
        "q259_sem_", "q259_dc_") { fleet =>
      // seven independent writer-lock domains build concurrently
      Fleet.build(s, fams.zip(fleet).map { case (f, dir) =>
        (f, rows(f.kind), dir) })
      def audit(phase: String, status: Map[String, String])
        : Seq[(String, String, String, Long, Long, Long, Boolean)] =
        Similarity.fleetEraseAudit(s, fleet, doomed, "id",
          textCol = Some("text"),
          decontamRemaining = Some(remaining))
          .select("family", "keys_live", "expected_residue",
            "deleted_pending", "complete")
          .collect().map(r => (r.getString(0), phase,
            status.getOrElse(r.getString(0), ""), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getBoolean(4))).toSeq
      val before = audit("1_before", Map.empty)
      val statuses = Similarity.fleetDelete(s, fleet, doomed, "id",
        textCol = Some("text"), decontamRemaining = Some(remaining),
        parallelism = 7)
        .select("family", "status").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val deleted = audit("2_deleted", statuses)
      // each doc-keyed family folds its tombstones
      inParallel(fams.zip(fleet).filter(_._1.docKeyed).map {
        case (f, dir) => () => f.compact(s, dir) }: _*)
      val folded = audit("3_folded", statuses)
      (before ++ deleted ++ folded)
        .toDF("family", "phase", "delete_status", "keys_live",
          "expected_residue", "deleted_pending", "complete")
        .localCheckpoint()
    }
    }

  /** UNIFIED seven-family admission
    * ([[operators.CorpusPipeline.admitBatch]]'s optional SimHash +
    * SemDeDup stages — before r15 the admission kernel consulted 3 of
    * the 7 families the maintenance planner tends): a planted batch
    * carries one doc per rejection mode, and each is rejected by
    * EXACTLY its stage — a token-REORDERED copy of a base doc slips
    * every shingle fingerprint (exact md5 differs, 3-gram Jaccard is
    * 0) but has an IDENTICAL unigram SimHash (Hamming 0); an
    * embedding near-dup with unique text (cosine 0.994 against an
    * indexed vector) is caught only by the SemDeDup state; an exact
    * copy and a benchmark-contaminated doc light up their classic
    * stages; a clean doc passes all seven. Verdicts stay per-row
    * facts of (batch row, index files) — the order-independence
    * contract extends to both new stages (intra-batch semantic pairs
    * are excluded by construction). */
  def q260_fleet_admission(s: SparkSession, d: String): DataFrame =
    fixtureTuned(s) {
    val (base, bench, baseVecs, batch) = FX.admission(s)
    TempDirs.using("q260_ex_", "q260_mh_", "q260_sh_", "q260_sem_",
        "q260_dc_") {
      case Seq(exDir, mhDir, shDir, semDir, dcDir) =>
      // five independent writer-lock domains — build concurrently
      admissionFleet(s, base, bench, baseVecs, exDir, mhDir, shDir, semDir,
        dcDir)
      operators.CorpusPipeline.admitBatch(s, batch, exDir, mhDir,
        dcDir, base, "id", "text", minTokens = 5, threshold = 0.5,
        simhashDir = Some(shDir), maxHamming = 0,
        semDedupDir = Some(semDir), baseVecs = Some(baseVecs),
        vecCol = "vec", tau = 0.95)
        .localCheckpoint()
    }
    }

  /** The five indexes of the seven-family admission fixture
    * ([[FleetFixture.admission]]), built concurrently with `more`. */
  private def admissionFleet(s: SparkSession, base: DataFrame,
                             bench: DataFrame, baseVecs: DataFrame,
                             exDir: String, mhDir: String, shDir: String,
                             semDir: String, dcDir: String,
                             more: (() => Unit)*): Unit =
    Fleet.build(s, Seq((Exact(), base, exDir), (MinHash(), base, mhDir),
      (SimHash(), base, shDir), (SemDeDup(k = 2), baseVecs, semDir),
      (Decontam(), bench, dcDir)), more: _*)

  /** The ONE-CALL fleet maintenance loop
    * ([[operators.Similarity.fleetHealth]] →
    * [[operators.Similarity.indexMaintenancePlan]] →
    * [[operators.Similarity.fleetMaintenanceApply]] → re-plan) over a
    * five-family fleet — before r15 the health-union step was
    * caller-side boilerplate, so "maintain the whole fleet" was three
    * operators and a hand-written union. Planted states: the
    * exact-hash index carries one pending tombstone (debt ceiling 0 →
    * `compact`), the SimHash index three append fragments (ceiling 2
    * → `compact`), the admission-funnel history three one-file days
    * (same ceiling → `compact`, via the funnel's NEW
    * fleetMaintenanceApply dispatch), while the fresh SemDeDup state
    * and decontam set plan `none`. Applying the plan executes exactly
    * the three compactions and the re-plan reads `none` everywhere —
    * each (family, action, status, action_after) row a structural
    * fact of the constructed states. */
  def q261_fleet_loop(s: SparkSession, d: String): DataFrame =
    fixtureTuned(s) {
    import s.implicits._
    val docs = FX.docs(s, FX.pangrams.take(3))
    val bench = Seq(100L ->
      "secret evaluation question regarding ancient sphinxes")
      .toDF("id", "text").repartition(1)
    val vecs = (0 until 4).map(c => (c.toLong, FX.axisD(c % 2, 4)))
      .toDF("id", "vec")
    TempDirs.using("q261_ex_", "q261_sh_", "q261_sem_", "q261_dc_",
        "q261_fn_") {
      case Seq(exDir, shDir, semDir, dcDir, fnDir) =>
      inParallel(
        () => Exact().build(s, docs, exDir),
        () => SimHash().buildFragmented(s, docs, shDir, 1L, 3L),
        () => SemDeDup(k = 2, coalesceLabels = true).build(s, vecs, semDir),
        () => Decontam().build(s, bench, dcDir),
        () => Seq("2024-01-01", "2024-01-02", "2024-01-03")
          .foreach(day => operators.CorpusPipeline
            .admissionFunnelAppend(s, fnDir, day,
              Seq(("s1", 4L, 0L)).toDF("source", "n_docs",
                "n_neardup"))))
      Exact().delete(s, exDir, docs.filter(col("id") === 1L))
      val fleet = Seq(exDir, shDir, semDir, dcDir, fnDir)
      def plan() = Similarity.indexMaintenancePlan(
        Similarity.fleetHealth(s, fleet), recallFloor = 0.0,
        maxFilesPerListCeiling = Long.MaxValue,
        maxFragmentsCeiling = 2, tombstoneDebtCeiling = 0L)
      Fleet.applyAndReplan(s, plan().select(col("dir"), col("family"),
        col("action")), plan())(Similarity.fleetMaintenanceApply(s, _))
    }
    }

  /** STREAMING unified seven-family admission
    * ([[operators.CorpusPipeline.streamingAdmission]] with the SimHash
    * + SemDeDup stage pass-throughs — r15's batch kernel got the full
    * fleet (q260) but the streaming wrapper still wired only 3 of 7
    * families, so a continuous pipeline could not run the admission
    * it maintains indexes for): q260's planted batch (one doc per
    * rejection mode — token-reorder SimHash catch, semantic-paraphrase
    * SemDeDup catch, exact copy, benchmark contamination, one clean)
    * is staged as multi-file parquet and replayed through `readStream`
    * under TWO trigger cadences (1 file and 3 files per micro-batch).
    * Because every verdict — including both new stages — depends only
    * on its own row and the index FILES (the semantic stage classifies
    * pair ends by label-state membership, never by batch id), the
    * accumulated sink under EITHER cadence equals the one-shot q260
    * verdicts exactly; the mirror is those constants × both
    * cadences. */
  def q262_streaming_unified_admission(s: SparkSession, d: String)
    : DataFrame = fixtureTuned(s) {
    val (base, bench, baseVecs, batch) = FX.admission(s)
    TempDirs.using("q262_ex_", "q262_mh_", "q262_sh_", "q262_sem_", "q262_dc_",
        "q262_stage_", "q262_out1_", "q262_ck1_", "q262_out2_", "q262_ck2_") {
      case Seq(exDir, mhDir, shDir, semDir, dcDir, stageDir, out1, ck1, out2,
          ck2) =>
      // six independent destinations (five writer-lock domains + the
      // staging dir) — build concurrently (q209/q251's file-source
      // convention for the staged batch: a distributed multi-file
      // parquet write, never the driver)
      admissionFleet(s, base, bench, baseVecs, exDir, mhDir, shDir, semDir,
        dcDir, () => batch.repartition(3).write.parquet(stageDir))
      def start(filesPerTrigger: Int, outDir: String, ckptDir: String)
        : org.apache.spark.sql.streaming.StreamingQuery = {
        val stream = s.readStream
          .schema(org.apache.spark.sql.types.StructType(
            batch.schema.fields))
          .option("maxFilesPerTrigger", filesPerTrigger.toString)
          .parquet(stageDir)
        operators.CorpusPipeline.streamingAdmission(stream,
          exDir, mhDir, dcDir, base, outDir, ckptDir,
          idCol = "id", textCol = "text", minTokens = 5,
          threshold = 0.5, simhashDir = Some(shDir), maxHamming = 0,
          semDedupDir = Some(semDir), baseVecs = Some(baseVecs),
          vecCol = "vec", tau = 0.95)
      }
      // both cadences run CONCURRENTLY: admission only READS the
      // index files (verdicts land in per-query sinks/checkpoints), so
      // the two streams are independent — and their micro-batch
      // scheduling floors overlap instead of adding up
      val q1 = start(1, out1, ck1)
      val q2 = start(3, out2, ck2)
      try { q1.processAllAvailable(); q2.processAllAvailable() }
      finally { q1.stop(); q2.stop() }
      s.read.parquet(out1).withColumn("cadence", lit(1L))
        .unionByName(
          s.read.parquet(out2).withColumn("cadence", lit(3L)))
        .localCheckpoint()
    }
    }

  /** Fleet RUNBOOK lifecycle ([[operators.FleetRunbook]] +
    * [[operators.Similarity.fleetMaintenanceApply]]`(runbookDir)` —
    * the side-input table that lets plan→apply go fully QUIET: until
    * r15 a SemDeDup `rebuild` was permanently `skipped` (re-clustering
    * needs a chosen k) and a PQ `rebuild` without an embedding store
    * in `corpora` likewise, so every scheduled caller had to rebuild
    * the corpora map by hand). Planted states: a SemDeDup state
    * frozen at k=1 over six vectors in three separated groups (one
    * hot cluster → the planner demands `rebuild`), and an IVF-PQ
    * index with two append fragments (planned `compact`, escalated to
    * `rebuild` — the operator's recall-decay call, cf. q264 where the
    * deep probe makes that call itself). The runbook maps both dirs
    * to one persisted embedding store (foreign column names, proving
    * the rename path) with `target_cluster_size = 2` for the SemDeDup
    * row (k = ⌈6/2⌉ = 3). Applying with ONLY the runbook — corpora
    * empty — EXECUTES both rebuilds (the label family through the new
    * reader-safe [[operators.Clustering.semDedupStateRebuild]]), and
    * the re-plan reads `none` everywhere: three balanced clusters of
    * two, one fresh file per list. All structural facts of the
    * constructed states. */
  def q263_fleet_runbook(s: SparkSession, d: String): DataFrame =
    fixtureTuned(s) {
    import s.implicits._
    val dvecs = FX.groups3.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("vid", "embedding")
    val fvecs = FX.groups3.zipWithIndex.map { case (p, i) =>
      (i.toLong, p.map(_.toFloat).toArray) }.toDF("id", "v")
    TempDirs.using("q263_sem_", "q263_pq_", "q263_store_", "q263_rb_") {
      case Seq(semDir, pqDir, storeDir, rbDir) =>
      // four independent destinations — build concurrently. SemDeDup
      // state frozen at k=1: every vector in one cluster — the
      // quantizer has "fallen behind" by construction; the IVF-PQ gets
      // two append fragments on top of the fresh build; ONE persisted
      // embedding store serves both runbook rows (foreign column names
      // exercise the rename path)
      inParallel(
        () => GroupSem.build(s, dvecs, semDir),
        () => IvfPq(nList = 2, m = 2, nCodes = 2)
          .buildFragmented(s, fvecs, pqDir, 4L, 6L),
        () => dvecs.repartition(1).write.parquet(storeDir),
        () => operators.FleetRunbook.save(s, rbDir, Seq(
          (semDir, storeDir, "vid", "embedding", Some(2L)),
          (pqDir, storeDir, "vid", "embedding",
            Option.empty[Long]))
          .toDF("dir", "side_input_path", "id_col", "payload_col",
            "target_cluster_size")))
      def plan() = Similarity.indexMaintenancePlan(
        Similarity.fleetHealth(s, Seq(semDir, pqDir), hotClusterCap = 2),
        recallFloor = 0.0, maxFilesPerListCeiling = 1,
        hotClustersCeiling = 0)
      // the operator escalates the fragment-debt compact to the refit
      // the decayed codebooks actually need (q264 automates this call
      // through the deep recall probe)
      Fleet.applyAndReplan(s, plan().select(col("dir"), col("family"),
        when(col("family") === "ivf_pq" && col("action") === "compact",
          lit("rebuild")).otherwise(col("action")).as("action")), plan())(
        Similarity.fleetMaintenanceApply(s, _, runbookDir = Some(rbDir),
          parallelism = 2))
    }
    }

  /** BUDGETED deep recall sweeps in the fleet loop
    * ([[operators.Similarity.fleetHealth]]`(deepProbes = 1)` — the
    * one-call loop always took the recall-FREE light reading for
    * vector families, so recall decay was undetectable without a
    * hand-run probe): a decayed IVF index (built on two angular base
    * clusters, then appended 12 boundary vectors that straddle the
    * frozen centroids 8/4 — a 1-list probe at the boundary query
    * finds 8 of the true top-12, recall 0.667) and a healthy one-list
    * index share a fleet with a deep-probe budget of ONE per sweep,
    * round-robin by staleness through the persisted probe log. Sweep
    * 1 spends its probe on the decayed index → `rebuild` (the healthy
    * one reads light → `none`); the apply EXECUTES the refit (the
    * k-means re-fit pulls the straddler mass into one list); sweep 2
    * probes the other index (staleness rotation — the fixed budget
    * covers the fleet across sweeps); sweep 3 rotates back and
    * measures the decayed index RECOVERED (recall 1 → `none`). The
    * probe log pins the budget: exactly 2 deep probes of the decayed
    * index, 1 of the healthy one, never more than one per sweep. All
    * structural facts of the constructed geometry (distinct cosines —
    * no tie-dependent top-k). */
  def q264_fleet_deep_probe(s: SparkSession, d: String): DataFrame =
    fixtureTuned(s) {
    import s.implicits._
    // healthy by construction at the SHARED probe budget (k=12,
    // nProbe=1): its true top-12 is the one tight 12-point cluster,
    // which one probed list fully contains
    val healthy = ((0 until 12).map(i =>
      (i.toLong, FX.ang(10.0 + 0.2 * i))) ++
      Seq((20L, FX.ang(80.0)), (21L, FX.ang(81.0))))
      .toDF("id", "v")
    val queries = Seq((0L, FX.ang(44.9))).toDF("qid", "qv")
    val hQueries = Seq((0L, FX.ang(11.0))).toDF("qid", "qv")
    TempDirs.using("q264_a_", "q264_b_", "q264_log_") {
      case Seq(aDir, bDir, logDir) =>
      // two independent writer-lock domains — build concurrently (A's
      // append stays ordered after its build inside the closure)
      inParallel(() => decayedIvf(s, aDir),
        () => Ivf(nList = 2, kmeansMaxIter = 2).build(s, healthy, bDir))
      val fleet = Seq(aDir, bDir)
      val tag = Map(aDir -> "A", bDir -> "B")
      def sweep(step: String): Seq[(String, String, Boolean, String)] = {
        val h = Similarity.fleetHealth(s, fleet, deepProbes = 1,
          probeQueries = Map(aDir -> queries, bDir -> hQueries),
          probeK = 12, probeNProbe = 1, probeLogDir = Some(logDir))
        Similarity.indexMaintenancePlan(h, recallFloor = 0.8,
          maxFilesPerListCeiling = Long.MaxValue)
          .select(col("dir"), col("recall_at_k"), col("action"))
          .collect().map(r => (step, tag(r.getString(0)),
            !r.isNullAt(1), r.getString(2))).toSeq.sortBy(_._2)
      }
      val s1 = sweep("1_sweep")
      val rep = Similarity.fleetMaintenanceApply(s,
        Seq((aDir, s1.find(_._2 == "A").get._4)).toDF("dir", "action"))
        .select("status").head().getString(0)
      val applyRow = Seq(("2_apply", "A", false, rep))
      val s2 = sweep("3_sweep")
      val s3 = sweep("4_sweep")
      (s1 ++ applyRow ++ s2 ++ s3 ++ probeCounts(s, logDir, tag, "5_probelog"))
        .toDF("step", "tag", "deep_probed", "outcome")
        .localCheckpoint()
    }
    }

  /** q264/q265's decayed IVF index: two single-point base lists, then
    * the twelve boundary straddlers appended across the frozen
    * centroids. */
  private def decayedIvf(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val ivf = Ivf(nList = 2, kmeansMaxIter = 2)
    ivf.build(s, FX.angBases.toDF("id", "v"), dir)
    ivf.append(s, dir, FX.straddlers.toDF("id", "v"))
  }

  /** The probe log's deep-probe count per tagged dir, as step rows. */
  private def probeCounts(s: SparkSession, logDir: String,
                          tag: Map[String, String], step: String)
    : Seq[(String, String, Boolean, String)] =
    Similarity.probeLogHistory(s, logDir)
      .groupBy("dir").count().collect()
      .map(r => (step, tag(r.getString(0)), false, r.getLong(1).toString))
      .toSeq.sortBy(_._2)

  /** The fully UNATTENDED fleet ops loop — the round's capstone
    * composition: `fleetHealth(runbookDir, probeLogDir, deepProbes)` →
    * [[operators.Similarity.indexMaintenancePlan]] →
    * `fleetMaintenanceApply(runbookDir)` with ZERO per-dir maps at
    * sweep time (q263 proved the runbook resolves APPLY side inputs,
    * q264 proved the budgeted probe rotation — this gate proves the
    * runbook now also answers for the deep probe's own inputs: the
    * query sample is the first `probeSampleN` side-input rows by id,
    * self-probing with corpus vectors). Planted fleet: a decayed IVF
    * index (q264's geometry — two single-point base lists, then 12
    * boundary straddlers appended 8/4 across the frozen centroids:
    * the 14-query self-probe at k=12/nProbe=1 reads recall 94/168 ≈
    * 0.56, under the 0.8 floor), a SemDeDup state frozen at k=1 over
    * six vectors in three separated groups (one hot cluster), and an
    * exact-hash index at six fragments (ceiling four — wide enough
    * that the SemDeDup rebuild's range-partitioned label write stays
    * under it). Sweep 1 plans
    * rebuild/rebuild/compact and the apply EXECUTES all three from
    * the runbook alone (the SemDeDup k = ⌈6/2⌉ = 3 from its
    * `target_cluster_size` policy); sweep 2 reads `none` everywhere —
    * the loop went quiet — and the probe log pins exactly one deep
    * probe per sweep, both spent on the only vector member. All
    * structural facts of the constructed states (the post-refit
    * self-probe recall clears the floor because the refit pulls the
    * straddler mass into one list; intra-straddler cosine ties never
    * cross the top-12 boundary — the excluded tail is always the
    * unique farthest base/straddler). */
  def q265_fleet_ops_loop(s: SparkSession, d: String): DataFrame =
    fixtureTuned(s) {
    import s.implicits._
    // six single-doc drops → six hash fragments: over the fleet's
    // ceiling of four, which a SemDeDup rebuild's range-partitioned
    // label write (≤ 4 files at the fixture's partitioning) stays under
    val texts = Seq(0L -> "alpha beta", 1L -> "gamma delta",
      2L -> "epsilon zeta", 3L -> "eta theta", 4L -> "iota kappa",
      5L -> "lambda mu")
    TempDirs.using("q265_ivf_", "q265_sem_", "q265_ex_", "q265_sa_", "q265_sb_",
        "q265_rb_", "q265_log_") {
      case Seq(ivfDir, semDir, exDir, storeA, storeB, rbDir, logDir) =>
      val dvecs = FX.groups3.zipWithIndex.map { case (p, i) =>
        (i.toLong, p) }.toDF("vid", "embedding")
      // six independent destinations — build concurrently (the runbook
      // holds BOTH stores under foreign column names: the loop's only
      // configuration, written once)
      inParallel(
        () => decayedIvf(s, ivfDir),
        () => GroupSem.build(s, dvecs, semDir),
        () => {
          Exact().build(s, texts.take(1).toDF("id", "text"), exDir)
          texts.drop(1).foreach(t =>
            Exact().append(s, exDir, Seq(t).toDF("id", "text")))
        },
        () => (FX.angBases ++ FX.straddlers)
          .map { case (i, v) => (i, v.toSeq) }
          .toDF("vid", "emb").repartition(1).write.parquet(storeA),
        () => dvecs.repartition(1).write.parquet(storeB),
        () => operators.FleetRunbook.save(s, rbDir, Seq(
          (ivfDir, storeA, "vid", "emb", Option.empty[Long]),
          (semDir, storeB, "vid", "embedding", Some(2L)))
          .toDF("dir", "side_input_path", "id_col", "payload_col",
            "target_cluster_size")))
      val fleet = Seq(ivfDir, semDir, exDir)
      val tag = Map(ivfDir -> "A", semDir -> "B", exDir -> "C")
      def sweep(step: String): (DataFrame,
        Seq[(String, String, Boolean, String)]) = {
        val p = Similarity.indexMaintenancePlan(
          Similarity.fleetHealth(s, fleet, hotClusterCap = 2,
            deepProbes = 1, probeK = 12, probeNProbe = 1,
            probeLogDir = Some(logDir), runbookDir = Some(rbDir),
            probeSampleN = 14),
          recallFloor = 0.8, maxFilesPerListCeiling = Long.MaxValue,
          maxFragmentsCeiling = 4, hotClustersCeiling = 0)
          .localCheckpoint(true)
        (p, p.select(col("dir"), col("recall_at_k"), col("action"))
          .collect().map(r => (step, tag(r.getString(0)),
            !r.isNullAt(1), r.getString(2))).toSeq.sortBy(_._2))
      }
      val (p1, s1) = sweep("1_plan")
      val applied = Similarity.fleetMaintenanceApply(s,
        p1.select("dir", "action"), runbookDir = Some(rbDir),
        parallelism = 3)
        .select("dir", "status").collect()
        .map(r => ("2_apply", tag(r.getString(0)), false,
          r.getString(1))).toSeq.sortBy(_._2)
      val (_, s2) = sweep("3_plan")
      (s1 ++ applied ++ s2 ++ probeCounts(s, logDir, tag, "4_probelog"))
        .toDF("step", "tag", "deep_probed", "outcome")
        .localCheckpoint()
    }
    }

  /** Fleet BACKUP/RESTORE lifecycle ([[operators.Similarity.fleetClone]]
    * / [[operators.IndexClone.cloneIndex]] — the ops verb every other
    * lifecycle assumed existed: a consistent point-in-time copy of a
    * whole mixed-family fleet, taken while writers keep writing,
    * restorable and independently maintainable). A three-family fleet
    * (exact-hash, MinHash, IVF) backs up in ONE `fleetClone` call
    * (per-row isolation, distributed byte-level copy, one manifest
    * flip per clone target); each backup answers probes exactly like
    * its source; a post-backup append to a SOURCE is invisible to its
    * backup (point-in-time semantics — the drift row is the proof the
    * backup is a snapshot, not a symlink); and restoring = cloning the
    * backup, which answers like the original. All structural facts of
    * the constructed states. */
  def q266_fleet_backup_restore(s: SparkSession, d: String): DataFrame =
    fixtureTuned(s) {
    import s.implicits._
    val texts = FX.docs(s, FX.pangrams.take(2))
    val vecs = ((0 until 6).map(i => (i.toLong, FX.ang(10.0 + i))) ++
      (0 until 6).map(i => (10L + i, FX.ang(80.0 + i)))).toDF("id", "v")
    TempDirs.using("q266_src_", "q266_bak_", "q266_res_") {
      case Seq(srcRoot, bakRoot, resRoot) =>
      val exDir = s"$srcRoot/ex"; val mhDir = s"$srcRoot/mh"
      val ivfDir = s"$srcRoot/ivf"
      // three independent writer-lock domains — build concurrently
      Fleet.build(s, Seq((Exact(), texts, exDir), (MinHash(), texts, mhDir),
        (Ivf(nList = 2, kmeansMaxIter = 2), vecs, ivfDir)))
      val backup = Similarity.fleetClone(s, Seq(exDir, mhDir, ivfDir),
        bakRoot, parallelism = 3)
        .select("family", "status").collect()
        .map(r => ("1_backup", r.getString(0), r.getString(1)))
        .toSeq.sortBy(_._2)
      val probeText = Seq(9L -> FX.pangrams(0)).toDF("id", "text")
      def exDup(dir: String, probe: DataFrame = probeText): String =
        Dedup.exactIndexProbe(s, dir, probe, "id", "text")
          .select("is_dup").head().getBoolean(0).toString
      val q = Seq((0L, FX.ang(11.0))).toDF("qid", "qv")
      def top(dir: String): Set[Long] =
        Similarity.ivfQuery(s, dir, q, k = 6, nProbe = 1)
          .select("id").as[Long].collect().toSet
      val verify = Seq(
        ("2_verify", "exact",
          (exDup(s"$bakRoot/ex") == exDup(exDir)).toString),
        ("2_verify", "ivf",
          (top(s"$bakRoot/ivf") == top(ivfDir)).toString))
      // the backup is a SNAPSHOT: a post-backup source append never
      // reaches it
      val newDoc = Seq(7L -> FX.pangrams(3)).toDF("id", "text")
      Exact().append(s, exDir, newDoc)
      val probeNew = newDoc.select(col("id") + 100, col("text"))
        .toDF("id", "text")
      val drift = Seq(("3_drift", "src", exDup(exDir, probeNew)),
        ("3_drift", "backup", exDup(s"$bakRoot/ex", probeNew)))
      // restore = clone the backup; it answers like the original
      operators.IndexClone.cloneIndex(s, s"$bakRoot/ex", s"$resRoot/ex")
      val restore = Seq(("4_restore", "exact", exDup(s"$resRoot/ex")))
      (backup ++ verify ++ drift ++ restore)
        .toDF("step", "family", "outcome")
        .localCheckpoint()
    }
    }

  /** Health report of a persisted SemDeDup state
    * ([[operators.Clustering.semDedupStateHealth]] — the fleet row for
    * the fifth index family): label-table size and cluster skew,
    * because an over-cap cluster is silently SKIPPED by the
    * incremental probe's maxCluster guard (near-dups go unreported —
    * the quantizer's k fell behind the corpus, a rebuild signal). Base
    * clusters save once (q237's path), day-1 appends under the frozen
    * centroids, and every data-derived stat replays in DuckDB through
    * the same unrolled-Lloyd + frozen-assignment CTEs as q237/q240. */
  def q245_semdedup_state_health(s: SparkSession, d: String): DataFrame = {
    val emb = T.embeddings(s, d)
    val base = emb.filter(col("vec_id") % 10 < 8)
    val day1 = emb.filter(col("vec_id") % 10 === 8)
    TempDirs.using("q245_semhealth_") { case Seq(root) =>
      val sem = EmbSem.copy(hotClusterCap = 50)
      sem.build(s, base, root)
      sem.append(s, root, day1)
      sem.health(s, root)
        .select("n_clusters", "total_rows", "occupied_clusters",
          "max_cluster", "hot_clusters")
        .localCheckpoint()
    }
  }

  /** Health report of a persisted decontamination index
    * ([[operators.Decontamination.decontamIndexHealth]] — the fleet row
    * for the sixth family): the index is broadcast-class BY CONTRACT,
    * so the row's load-bearing reading is the stored-set size against
    * the broadcast budget; `distinct_shingles` == `total_rows` is the
    * append path's distinctness invariant (the anti-join is doing its
    * job), pinned here value-exactly. Built on src0's even doc ids,
    * appended the odd ones — the assembled set must equal one distinct
    * pass over all of src0. */
  def q246_decontam_health(s: SparkSession, d: String): DataFrame = {
    TempDirs.using("q246_dchealth_") { case Seq(root) =>
      benchIndex(s, d, root)
      Decontamination.decontamIndexHealth(s, root)
        .select("shingle_n", "total_rows", "distinct_shingles")
        .localCheckpoint()
    }
  }

  /** WHOLE-fleet maintenance plan: ONE
    * [[operators.Similarity.indexMaintenancePlan]] call over a health
    * union spanning every persisted family this package ships — IVF
    * (healthy → `none`, plus a drift row whose orthogonal batch says
    * `rebuild`), MinHash (hot boilerplate bucket → `dedup_prepass`),
    * SimHash (append fragments over ceiling → `compact`), SemDeDup
    * (one cluster past the probe guard's cap → `rebuild`), the
    * decontamination index (broadcast-class and fragment-free →
    * `none`), and the exact-hash set (three dedupe-free appends over
    * the fragment ceiling → `compact`). Absent columns are NULL per
    * family and NULL never triggers, so each row trips exactly its own
    * family's rule — the q234/q239 pattern completed across all SEVEN
    * persisted families. All verdicts are structural facts of the
    * constructed states. */
  def q247_fleet_all_families(s: SparkSession, d: String): DataFrame = fixtureTuned(s) {
    import s.implicits._
    val ivfCorpus = FX.axes(s, 4)
    val hotDocs = (0L until 8L).map(i => (i, FX.boiler))
      .toDF("id", "text").repartition(1)
    val fragDocs = FX.docs(s, FX.pangrams.take(4))
    // one 3-member embedding cluster over a cap of 2 -> hot_clusters=1
    val semVecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.01f)),
      (2L, Array(0.98f, 0.02f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val (mh, sh, ex) = (MinHash(hotBucketCap = 5), SimHash(), Exact())
    val sem = SemDeDup(k = 2, idCol = "vec_id", vecCol = "embedding",
      hotClusterCap = 2)
    val dc = Decontam()
    TempDirs.using("q247_ivf_", "q247_mh_", "q247_sh_", "q247_sem_", "q247_dc_",
        "q247_ex_") {
      case Seq(ivfDir, mhDir, shDir, semDir, dcDir, exDir) =>
      // independent writer-lock domains: build each family's planted
      // state concurrently (intra-family append order kept inside its
      // closure)
      inParallel(
        () => Ivf(nList = 4, kmeansMaxIter = 10).build(s, ivfCorpus, ivfDir),
        () => mh.build(s, hotDocs, mhDir),
        () => sh.buildFragmented(s, fragDocs, shDir, 2L, 4L),
        () => sem.build(s, semVecs, semDir),
        () => dc.build(s,
          fragDocs.select(col("id").as("doc_id"), col("text")), dcDir),
        () => ex.buildFragmented(s, fragDocs, exDir, 1L, 4L))
      val fleet = Fleet.healthUnion("idx", Seq(
        1 -> Similarity.ivfIndexHealth(s, ivfDir,
          ivfCorpus.select(col("id").as("qid"), col("v").as("qv")),
          k = 1, nProbe = 4),
        2 -> Similarity.ivfDriftProbe(s, ivfDir, FX.axes(s, 4, 100L, 4)),
        3 -> mh.health(s, mhDir), 4 -> sh.health(s, shDir),
        5 -> sem.health(s, semDir), 6 -> dc.health(s, dcDir),
        7 -> ex.health(s, exDir)))
      Similarity.indexMaintenancePlan(fleet, recallFloor = 0.9,
        maxFilesPerListCeiling = 10, maxFragmentsCeiling = 2,
        driftRatioFloor = 0.5, hotClustersCeiling = 0L)
        .select(col("idx"), col("action"))
        .localCheckpoint()
    }
  }

  /** BPE corpus-ENCODING gate ([[operators.Tokenizer.bpeEncode]]): the
    * scan a pipeline runs corpus-wide after training — each document's
    * subword stream under a FIXED merge list (training itself is gated
    * by q137), fingerprinted per doc. The DuckDB oracle replays the
    * greedy leftmost non-overlapping merge walk as a chain of string
    * `replace`s over a double-separator symbol encoding (pattern
    * `␟a␟␟b␟` → `␟ab␟` consumes the inner separators, so scan-resume
    * after a replacement matches the walk's i += 2 exactly — verified
    * symbol-for-symbol against a reference implementation). */
  def q222_bpe_encode(s: SparkSession, d: String): DataFrame = {
    val merges = Seq("a" -> "g", "ag" -> "g", "r" -> "o", "ro" -> "w",
      "a" -> "n", "o" -> "n")
    Tokenizer.bpeEncode(T.documents(s, d), "text", merges)
      .select(col("doc_id"), size(col("bpe")).as("n_bpe"),
        // concat_ws SKIPS a null array (would hash ""), while the SQL
        // mirror yields NULL -- guard so both sides agree on null text
        when(col("bpe").isNull, lit(null))
          .otherwise(md5(concat_ws("\u001f\u001f", col("bpe"))))
          .as("bpe_hash"))
  }

  /** Sequence-PACKING gate ([[operators.Tokenizer.packSequences]]):
    * documents pack next-fit into 128-token training sequences within
    * id-mod-8 buckets. The DuckDB mirror walks each bucket with a
    * recursive CTE carrying (seq, fill) — the exact state machine the
    * distributed per-bucket walk runs. */
  def q225_pack_sequences(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d).select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text"))
        .as("n_tokens"))
    SequencePacking.packNextFit(docs, "doc_id", "n_tokens",
      budget = 128L, numBuckets = 8)
  }

  /** Semantic-DECONTAMINATION gate
    * ([[operators.Similarity.benchmarkContamination]]): every corpus
    * vector annotated with its max cosine to any benchmark vector plus
    * the tau flag — one broadcast, zero shuffles. The oracle is a plain
    * cross-join MAX with the q29 cosine arithmetic. */
  def q226_semantic_decontam(s: SparkSession, d: String): DataFrame = {
    val (queries, corpus) = knnSplit(T.embeddings(s, d))
    Similarity.benchmarkContamination(corpus, "id", "v", queries, "qv",
      tau = 0.25)
      .select(col("id"), col("max_benchmark_cosine"), col("contaminated"))
  }

  /** Leakage-safe split ([[operators.Splits.groupedSplit]]): the split
    * hash is taken over the content hash, so exact-duplicate documents
    * land on the SAME side — the constructive counterpart of the q132
    * leakage audit. Zero shuffle, engine-mirrorable projection. */
  def q216_leakage_safe_split(s: SparkSession, d: String): DataFrame =
    Splits.groupedSplit(
      T.documents(s, d).select(col("doc_id"), md5(col("text")).as("chash")),
      Seq("chash"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))

  /** NEAR-dup leakage-safe split — the composition a real corpus
    * pipeline runs: q57's resolved duplicate clusters (shingle-Jaccard
    * pairs → connected components) feed [[operators.Splits
    * .groupedSplit]] as the group key, so a whole near-duplicate
    * CLUSTER — not just byte-identical copies — lands on one side of
    * the train/test cut. The split itself stays the zero-shuffle
    * hash-of-group projection; all the heavy lifting is the cluster
    * resolution the dedup pipeline already ran. */
  def q219_neardup_grouped_split(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", "source",
      n = 3, threshold = 0.01)
    val clusters = Dedup.resolveClusters(docs, pairs, "doc_id",
      priorityCol = TF.tokenCount(col("text")))
    Splits.groupedSplit(clusters.select(col("doc_id"), col("component")),
      Seq("component"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("component"), col("split"))
  }

  /** DSIR data selection ([[operators.DataSelection]]): weigh every
    * document by the log importance ratio of its hashed-bigram profile
    * under the English-target vs raw-corpus distributions, keep the
    * top 100. Bucket histograms are fixed-size (256 rows) whatever the
    * corpus; selection is a bounded TakeOrdered. */
  def q212_dsir_select(s: SparkSession, d: String): DataFrame =
    DataSelection.dsirSelect(
      T.documents(s, d).withColumn("is_en", col("lang") === "en"),
      "doc_id", "text", "is_en", m = 100, buckets = 256, alpha = 1.0)

  /** Embedding-cosine near-dup pairs: sign-LSH bucket join + exact
    * cosine verification (deterministic hyperplanes → SQL-mirrorable). */
  def q45_embedding_dedup(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingCosine(T.embeddings(s, d), "vec_id", "embedding",
      nBits = 4, threshold = 0.25)

  /** IVF-PQ ANN: coarse-list pruning + product-quantized scoring +
    * exact refine (production settings; recall-gated by SamplingSpec,
    * rows-only here — codes depend on the k-means fit). */
  def q68_knn_ivfpq(s: SparkSession, d: String): DataFrame = {
    val (queries, corpus) = knnSplit(T.embeddings(s, d))
    Similarity.ivfPq(queries, corpus, 3, nList = 8, nProbe = 3,
      m = 16, nCodes = 16, refineK = 50)
  }

  /** IVF-PQ semantic gate (the q43o pattern): probe ALL lists and refine
    * every candidate exactly — the result must equal brute force no
    * matter what the quantizers learned, so encode/ADC/refine plumbing
    * faces q29's SQL oracle. */
  def q68o_knn_ivfpq_full(s: SparkSession, d: String): DataFrame = {
    val (queries, corpus) = knnSplit(T.embeddings(s, d))
    // refine-ALL requires refineK ≥ |corpus| — count it rather than
    // assume a constant covers every scale factor the oracle replays at
    Similarity.ivfPq(queries, corpus, 3, nList = 8, nProbe = 8,
      m = 4, nCodes = 8, refineK = corpus.count().toInt,
      kmeansMaxIter = 2)
      .select(col("qid"), col("rank"), col("id"), col("cosine"))
  }

  /** LSH-bucketed ANN (deterministic pseudo-random hyperplanes). */
  def q41_knn_lsh(s: SparkSession, d: String): DataFrame = {
    val (queries, corpus) = knnSplit(T.embeddings(s, d))
    Similarity.lsh(queries, corpus, 3, nBits = 6, nProbe = 2)
  }

  /** A/B experiment readout ([[operators.Experiments.welchTTest]]):
    * users hash-split 50/50, then per event_type the Welch
    * unequal-variance t statistic and Satterthwaite dof — ONE aggregate
    * to (n, Σy, Σy²) per side, decimal-exact sums, fixed IEEE expression
    * tree the oracle mirrors textually. */
  def q151_ab_welch(s: SparkSession, d: String): DataFrame =
    Experiments.welchTTest(
      T.events(s, d).withColumn("variant",
        Experiments.variant(col("user_id"))),
      Seq("event_type"), "variant", "value")

  /** Chi-square independence of event_type × assigned variant
    * ([[operators.Experiments.chiSquare]]) — the sample-ratio-mismatch /
    * categorical-drift test: one aggregate to contingency cells,
    * broadcast margins, order-independent contribution sum. */
  def q152_chi_square(s: SparkSession, d: String): DataFrame =
    Experiments.chiSquare(
      T.events(s, d).withColumn("variant",
        Experiments.variant(col("user_id"))),
      "event_type", "variant")

  /** Percentile-bootstrap CI for each event_type's mean value
    * ([[operators.Experiments.bootstrapMeanCI]]): 16 deterministic
    * Poisson(1) resamples from integer hash thresholds — no RNG state,
    * replicate partial sums are the only fan-out through the shuffle. */
  def q153_bootstrap_ci(s: SparkSession, d: String): DataFrame =
    Experiments.bootstrapMeanCI(T.events(s, d), Seq("event_type"),
      "event_id", "value", replicates = 16)

  /** Canary leakage audit ([[operators.Decontamination.plantCanaries]] /
    * `detectCanaries`): plant 16 synthetic markers into a 1/16 hash
    * slice of the corpus, then detect them insertion-blind with a
    * broadcast probe-list contains-join over ONE corpus scan. The oracle
    * recomputes the plant arithmetic directly, so detection must recover
    * the insertion ground truth exactly. */
  def q154_canary_audit(s: SparkSession, d: String): DataFrame = {
    val marked = Decontamination.plantCanaries(
      T.documents(s, d), "doc_id", "text", k = 16, everyN = 16)
    Decontamination.detectCanaries(marked, "text", k = 16)
  }

  /** Incremental-recompute gate ([[operators.IncrementalAgg]]): snapshot
    * the pre-cutoff events and the post-cutoff delta separately, MERGE
    * the mergeable states (n, decimal Σ, min, max), and finish — the
    * oracle aggregates the whole table in one pass, so the identity
    * merge(snapshot(a), snapshot(b)) == snapshot(a ∪ b) is hash-gated. */
  def q155_incremental_agg(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d).filter(col("value").isNotNull)
    val cut = lit("2024-01-20").cast("timestamp")
    val base = IncrementalAgg.snapshot(
      ev.filter(col("ts") < cut), Seq("event_type"), "value")
    val delta = IncrementalAgg.snapshot(
      ev.filter(col("ts") >= cut), Seq("event_type"), "value")
    IncrementalAgg.finish(
      IncrementalAgg.merge(Seq(base, delta), Seq("event_type")),
      Seq("event_type"))
  }

  /** CUPED-adjusted experiment readout ([[operators.Experiments.cuped]]):
    * pre-period (before Jan 15) per-user mean value as the covariate for
    * the post-period metric, pooled θ, per-variant raw vs adjusted
    * means. Unit-domain shuffles only. */
  def q156_cuped(s: SparkSession, d: String): DataFrame =
    Experiments.cuped(
      T.events(s, d).withColumn("variant",
        Experiments.variant(col("user_id"))),
      "user_id", "variant", "value",
      col("ts") < lit("2024-01-15").cast("timestamp"))

  /** Delta-method SE for the user-clustered ratio metric revenue-per-
    * view ([[operators.Experiments.deltaRatio]]): purchase value summed
    * per user over view counts per user; the SE accounts for within-user
    * correlation a per-row variance would miss. */
  def q157_ratio_delta(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d).withColumn("variant",
      Experiments.variant(col("user_id")))
    Experiments.deltaRatio(ev, "user_id", "variant",
      when(col("event_type") === "purchase", dec(col("value"), 18, 6)),
      when(col("event_type") === "view", lit(1L)))
  }

  /** Isotonic calibration over the q115 reliability bins
    * ([[operators.Calibration.isotonicBins]]): integer-exact PAV on the
    * driver over 10 pre-aggregated bins; the oracle evaluates the
    * minimax characterization max_{i≤k} min_{j≥k} avg(i..j) over the
    * same integer sums, which provably equals the PAV fit. */
  def q158_isotonic(s: SparkSession, d: String): DataFrame = {
    val scored = T.lineitem(s, d).select(
      (col("l_discount") * 10).as("score"),
      when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("label"))
    Calibration.isotonicBins(scored, "score", "label", 10)
  }

  /** Retrieval-quality readout ([[operators.RankingEval.perQuery]]):
    * exact cosine top-10 per query (the q29 machinery at k=10), graded
    * by the neighbor's label → per-query nDCG@10 (list-normalized
    * ideal) and reciprocal rank of the first label ≥ 5 hit. */
  def q159_ndcg_mrr(s: SparkSession, d: String): DataFrame = {
    val emb = T.embeddings(s, d)
    val (queries, corpus) = knnSplit(emb)
    val ranked = Similarity.bruteForce(queries, corpus, 10)
      .join(emb.select(col("vec_id").as("id"), col("label").as("rel")),
        "id")
    RankingEval.perQuery(ranked, "qid", "rank", "rel", relevantMin = 5)
  }

  /** Expected calibration error over the q115 reliability bins: ECE =
    * Σ (n_b/N)·|pos_rate − mean_score| from the bins' already-rounded
    * 6dp values, so the weighted sum is decimal-exact. */
  def q160_ece(s: SparkSession, d: String): DataFrame = {
    val scored = T.lineitem(s, d).select(
      (col("l_discount") * 10).as("score"),
      when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("label"))
    val bins = graft.ml.Evaluators.calibrationBins(scored, "score", "label", 10)
    val diff6 = round(abs(col("pos_rate") - col("mean_score")) + lit(1e-9), 6)
      .cast("decimal(12,6)")
    bins.select(col("n"), (diff6 * col("n").cast("decimal(12,0)")).as("_w"))
      .agg(sum(col("n")).as("n"), sum(col("_w")).as("_sw"))
      .select(col("n"),
        round(col("_sw").cast("double") / col("n").cast("double")
          + lit(1e-9), 6).as("ece"))
  }

  /** k-anonymity audit ([[operators.Checks.kAnonymity]]): customer
    * quasi-identifier (nation, market segment) combinations held by
    * fewer than 25 customers — the re-identification risk report. */
  def q161_k_anonymity(s: SparkSession, d: String): DataFrame =
    Checks.kAnonymity(T.customer(s, d),
      Seq("c_nationkey", "c_mktsegment"), k = 25)

  /** Segment-lift discovery (slice-finder): every (event_type × hour)
    * cube segment with support ≥ 100 scored by z = (mean_seg −
    * mean_global)/√(var_global/n_seg), top 10 by |z|. ONE cube pass
    * computes every grouping set's decimal-exact moments (no re-scan
    * per level — the q70 property); the global row comes from the cube
    * itself (gid = 3) and broadcasts back; the ranking window runs over
    * the segment domain, never the data. Marginal rows surface their
    * open dimension as '(all)' / -1 so no engine-specific NULL ordering
    * is ever relied on. */
  def q162_segment_lift(s: SparkSession, d: String): DataFrame = {
    val y = dec(col("value"), 18, 6)
    val ev = T.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), hour(col("ts")).as("hr"), col("value"))
    val cube = ev.cube("event_type", "hr")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(y).as("_s"), sum(y * y).as("_ss"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val g = cube.filter(col("gid") === 3)
      .select(col("n").as("_gn"), col("_s").as("_gs"), col("_ss").as("_gss"))
    val gn = col("_gn").cast("double")
    val gs = col("_gs").cast("double")
    val mg = gs / gn
    val vg = (col("_gss").cast("double") - gs * gs / gn) / (gn - lit(1.0))
    val ms = col("_s").cast("double") / col("n").cast("double")
    val z = (ms - mg) / sqrt(vg / col("n").cast("double"))
    val seg = cube.filter(col("gid") < 3 && col("n") >= 100)
      .crossJoin(broadcast(g))
      .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
        coalesce(col("hr"), lit(-1)).as("hr"), col("gid"), col("n"),
        round(ms + lit(1e-9), 6).as("mean_seg"),
        round(z + lit(1e-9), 6).as("z_score"),
        round(abs(z) + lit(1e-9), 6).as("_az"))
    val w = Window.orderBy(col("_az").desc, col("gid"),
      col("event_type"), col("hr"))
    seg.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10).drop("_az")
  }

  /** Two-sample KS test ([[operators.Ranks.ksTest]]): click vs view
    * value distributions. The D statistic's max runs over integer
    * cross-products on the distributed rank surface (per-value counts,
    * range-partitioned sort, partition-offset prefix sums) — only the
    * winning numerator is ever divided. */
  def q163_ks_test(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    Ranks.ksTest(ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "view"), "value")
  }

  /** Mann-Whitney U ([[operators.Ranks.mannWhitney]]), same two
    * samples: 2·Σranks_A is integer-exact under average tie ranks, and
    * the tie-corrected z mirrors as a fixed double expression. */
  def q164_mann_whitney(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    Ranks.mannWhitney(ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "view"), "value")
  }

  /** Gopher-style rule-based quality filter
    * ([[operators.QualityRules.gopherRules]]): per-rule boolean verdicts
    * + keep over the rules with real signal on this corpus (word-count
    * bounds, mean word length, duplicate-bigram repetition, stopword
    * presence). All output columns are long/boolean, so the hash never
    * sees a float. */
  def q165_gopher_rules(s: SparkSession, d: String): DataFrame =
    QualityRules.gopherRules(T.documents(s, d))
      .select(col("doc_id"), col("n_words"), col("r_word_count"),
        col("r_mean_word_len"), col("r_dup_bigram"), col("r_stopwords"),
        col("keep"))

  /** Length-bucketed batch assembly with padding-waste accounting
    * ([[operators.SequencePacking.lengthBucketedBatches]]): 16-token
    * length bands, 4 hash-salted streams per band, batches of 8 docs,
    * `padding` = what a pad-to-max collator would add. All-integer
    * output. */
  def q166_length_buckets(s: SparkSession, d: String): DataFrame = {
    val counted = T.documents(s, d).select(col("doc_id"),
      TF.tokenCount(col("text")).as("n_tokens"))
    SequencePacking.lengthBucketedBatches(counted, "doc_id", "n_tokens",
      bucketWidth = 16, batchSize = 8, nSalts = 4)
  }

  /** DeLong AUC standard error + 95% CI ([[operators.Ranks.delongAuc]])
    * on q32's scored frame (embedding[0] as score, label ≥ 5 as
    * positive). Placement second moments accumulate as exact longs on
    * the distributed rank surface; only the final variance expression
    * divides, mirrored term-for-term by the oracle. */
  def q167_delong_auc(s: SparkSession, d: String): DataFrame = {
    val scored = T.embeddings(s, d).select(
      element_at(col("embedding"), 1).cast("double").as("score"),
      (col("label") >= 5).as("pos"))
      .filter(col("score").isNotNull)
    Ranks.delongAuc(scored.filter(col("pos")),
      scored.filter(!col("pos")), "score")
  }

  /** Audience-overlap matrix: how many users did BOTH of every pair of
    * event types. The small-domain set-intersection pattern: instead of
    * a user-level self-join (q90's shape — right for unbounded token
    * domains, quadratic per hot user here), fold each user's types into
    * a 5-bit mask with one `bit_or` aggregate (one user-keyed shuffle,
    * map-side combined), reduce to the ≤2⁵-row mask histogram, and
    * expand the 10 pairs from those counts driver-side. The data is
    * scanned once at any scale; nothing quadratic ever forms. */
  def q168_audience_overlap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val types = Seq("click", "view", "purchase", "error", "signup")
    val bit = types.zipWithIndex.foldLeft(lit(0)) { case (acc, (t, i)) =>
      when(col("event_type") === t, lit(1 << i)).otherwise(acc)
    }
    val maskCounts = T.events(s, d)
      // high-value audiences: the cutoff de-saturates the matrix (every
      // user has every type somewhere in their history; the interesting
      // overlap is between the types they engage with heavily)
      .filter(col("value") > 150.0)
      .select(col("user_id"), bit.as("_b"))
      .groupBy("user_id").agg(expr("bit_or(_b)").as("_mask"))
      .groupBy("_mask").agg(count(lit(1)).as("_n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val rows = for {
      i <- types.indices
      j <- types.indices if i < j
    } yield (types(i), types(j),
      maskCounts.collect { case (m, n)
        if (m & (1 << i)) != 0 && (m & (1 << j)) != 0 => n }.sum)
    rows.toDF("type_a", "type_b", "n_both")
  }

  /** Last-touch conversion attribution: every purchase attributed to
    * the user's latest click at-or-before it, provided the click falls
    * inside a 24-hour lookback. Composes [[operators.EventJoins.asOf]]
    * (one keyed shuffle, union + linear per-key pass — never a per-
    * purchase backward probe) with the window test applied AFTER the
    * join, so out-of-window purchases survive as unattributed rows.
    * Lag is emitted in exact integer microseconds — no float duration
    * ever hashes. */
  def q169_attribution(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
    val attributed = col("click_ts").isNotNull &&
      col("click_ts") > col("ts") - expr("INTERVAL 24 HOURS")
    EventJoins.asOf(purchases, clicks, Seq("user_id"), "ts", "event_id")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        attributed.as("attributed"),
        when(attributed, col("click_id")).as("attributed_click_id"),
        when(attributed,
          unix_micros(col("ts")) - unix_micros(col("click_ts")))
          .as("lag_us"))
  }

  /** Seasonal-naive anomaly scoring: each (event_type, day, hour)
    * bucket's mean z-scored against that (event_type, hour-of-day)'s
    * baseline across days — the seasonality-aware sibling of the PSI /
    * IQR / MAD monitors (a 9am spike is judged against 9am's, not the
    * whole day's). One bucket aggregate over the data (decimal-exact
    * sums), then ALL further moments reduce from the bucket table
    * (types·days·hours rows — never a second data scan); the baseline
    * joins back broadcast. Bucket means are rounded to 9dp decimals
    * before the baseline sums so the variance is order-independent;
    * the anomaly flag compares doubles both engines derive identically
    * from those exact sums. */
  def q170_seasonal_anomaly(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        hour(col("ts")).as("hr"), col("value"))
    val buckets = ev.groupBy("event_type", "day", "hr")
      .agg(count(lit(1)).as("n"), sum(dec(col("value"), 18, 6)).as("_s"))
      .withColumn("_bm", col("_s").cast("double") / col("n").cast("double"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bm9 = round(col("_bm"), 9).cast("decimal(18,9)")
    val bq9 = round(col("_bm") * col("_bm"), 9).cast("decimal(18,9)")
    val base = buckets.groupBy("event_type", "hr")
      .agg(count(lit(1)).as("_bn"), sum(bm9).as("_bs"), sum(bq9).as("_bss"))
    val bn = col("_bn").cast("double")
    val bs = col("_bs").cast("double")
    val mu = bs / bn
    val sd = sqrt((col("_bss").cast("double") - bs * bs / bn)
      / (bn - lit(1.0)))
    val z = (col("_bm") - mu) / sd
    buckets.join(broadcast(base), Seq("event_type", "hr"))
      .select(col("event_type"), col("day"), col("hr"), col("n"),
        round(col("_bm") + lit(1e-9), 6).as("mean_bucket"),
        round(z + lit(1e-9), 6).as("z_score"),
        (abs(z) > lit(2.0)).as("is_anomaly"))
  }

  /** Cohen's kappa between the langId heuristic and the labeled `lang`
    * column — chance-corrected agreement, the standard way to grade a
    * classifier (or a pair of annotators) beyond raw accuracy. One
    * confusion aggregate scans the data; the ≤25-cell matrix reduces
    * driver-side, and kappa stays INTEGER-exact to the last division:
    * kappa = (n·agree − Σ_c row_c·col_c) / (n² − Σ_c row_c·col_c).
    * Both integer terms are emitted so the hash gate never rests on a
    * float alone. */
  def q171_lang_kappa(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val conf = T.documents(s, d)
      .select(col("lang").as("actual"), TF.langId(col("text")).as("pred"))
      .groupBy("actual", "pred").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val n = conf.map(_._3).sum
    val agree = conf.filter(r => r._1 == r._2).map(_._3).sum
    val rowM = conf.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val colM = conf.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val sumRC = (rowM.keySet ++ colM.keySet).toSeq
      .map(c => rowM.getOrElse(c, 0L) * colM.getOrElse(c, 0L)).sum
    Seq((n, agree, n * agree - sumRC, n * n - sumRC))
      .toDF("n", "n_agree", "kappa_num", "kappa_den")
      .select(col("n"), col("n_agree"), col("kappa_num"), col("kappa_den"),
        round(col("n_agree").cast("double") / col("n") + lit(1e-9), 6)
          .as("accuracy"),
        round(col("kappa_num").cast("double") / col("kappa_den")
          + lit(1e-9), 6).as("kappa"))
  }

  /** Zipf-slope corpus diagnostic: OLS of ln(freq) on ln(rank) over the
    * top-100 vocabulary — natural corpora track slope ≈ −1; strong
    * deviation flags templated or truncated text. Vocabulary ranks come
    * from [[operators.TextRanking.buildVocab]] (bounded hash agg +
    * TakeOrdered, no global sort); the regression reduces over 100
    * rows with per-term ln values rounded to 9dp decimals so the sums
    * are order-independent, and the closed-form slope mirrors as one
    * double expression. */
  def q172_zipf_slope(s: SparkSession, d: String): DataFrame = {
    val v = TextRanking.buildVocab(T.documents(s, d), "text", 100)
    val x = log(col("id").cast("double"))
    val y = log(col("cnt").cast("double"))
    def d9(c: Column) = round(c, 9).cast("decimal(18,9)")
    val agg = v.agg(count(lit(1)).as("k"), sum(d9(x)).as("_sx"),
      sum(d9(y)).as("_sy"), sum(d9(x * y)).as("_sxy"),
      sum(d9(x * x)).as("_sxx"))
    val kD = col("k").cast("double")
    val sx = col("_sx").cast("double")
    val sy = col("_sy").cast("double")
    val slope = (kD * col("_sxy").cast("double") - sx * sy) /
      (kD * col("_sxx").cast("double") - sx * sx)
    agg.select(col("k").as("n_terms"),
      round(slope + lit(1e-9), 6).as("zipf_slope"),
      round((sy - slope * sx) / kD + lit(1e-9), 6).as("intercept"))
  }

  /** Multi-touch (linear) attribution: every click in a purchase's
    * 24-hour lookback shares the conversion credit equally —
    * [[operators.EventJoins.rangePairs]] (bucketized equi-join, two
    * candidate buckets per purchase, never a per-user cross product)
    * produces the pairs, per-purchase click counts split the credit,
    * and per-click credit sums exactly as 9dp decimals (1/n rounds to
    * a decimal BEFORE summing, so the total is order-independent). */
  def q173_linear_attribution(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("pid"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val pairs = EventJoins.rangePairs(purchases, clicks, Seq("user_id"),
      "pid", "ts", windowSec = 86400L, payload = Seq("click_id"))
    val n = pairs.groupBy("pid").agg(count(lit(1)).as("_n"))
    pairs.join(n, "pid")
      .withColumn("_credit",
        round(lit(1.0) / col("_n"), 9).cast("decimal(18,9)"))
      .groupBy("click_id")
      .agg(count(lit(1)).as("n_conversions"),
        round(sum(col("_credit")).cast("double") + lit(1e-9), 6)
          .as("total_credit"))
  }

  /** Per-user lifetime features: event count, tenure, inter-event gap
    * stats — the user-level feature table a retention model reads. One
    * per-user window (parallel across users, linear within) computes
    * lag gaps in exact integer microseconds; only the mean divides.
    * Deterministic ordering: (ts, event_id). */
  def q174_user_tenure(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val t = unix_micros(col("ts"))
    T.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("_gap", t - lag(t, 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        floor((max(t) - min(t)) / lit(86400000000.0)).cast("long")
          .as("tenure_days"),
        max(col("_gap")).as("max_gap_us"),
        // seconds, not micros: a 6dp round at 4e10 magnitude sits
        // below the double ulp and the two engines' nearest-
        // representable results diverge; at ~4e4 seconds 3dp is exact
        round(sum(col("_gap")).cast("double") /
          count(col("_gap")) / lit(1000000.0) + lit(1e-9), 3)
          .as("mean_gap_s"))
  }

  /** Benford first-digit audit on `value`: a data-quality diagnostic —
    * organically-generated magnitudes track P(d) = log10(1+1/d);
    * uniform synthetic values (this corpus) deviate loudly. The digit
    * comes from the INTEGER string of round(value·100) (never a float
    * format), so counts are exact; expectations and χ² contributions
    * mirror as fixed double expressions. */
  def q175_benford(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
      .filter(col("value").isNotNull && col("value") > 0)
      .select(substring(round(col("value") * 100, 0).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = ev.agg(sum(col("n_obs")).as("_n"))
    val expected = col("_n").cast("double") *
      log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0))
    ev.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_obs"),
        round(expected + lit(1e-9), 6).as("expected"),
        round((col("n_obs").cast("double") - expected) *
          (col("n_obs").cast("double") - expected) / expected
          + lit(1e-9), 6).as("chi2_term"))
  }

  /** Event-type transition matrix per user sequence: counts and row
    * probabilities of (previous type → type) — the first-order Markov
    * summary behind session modeling and next-event prediction. One
    * per-user lag window, then a 25-cell aggregate; probabilities are
    * exact count ratios. */
  def q176_transitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = T.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("_prev", lag(col("event_type"), 1).over(w))
      .filter(col("_prev").isNotNull)
      .groupBy(col("_prev").as("prev_type"),
        col("event_type")).agg(count(lit(1)).as("n"))
    val rowTot = pairs.groupBy("prev_type").agg(sum(col("n")).as("_rt"))
    pairs.join(broadcast(rowTot), "prev_type")
      .select(col("prev_type"), col("event_type"), col("n"),
        round(col("n").cast("double") / col("_rt").cast("double")
          + lit(1e-9), 6).as("prob"))
  }

  /** Curation pipeline v2 — the round-6 composition: Gopher rule
    * filter → exact dedup (keep lowest id) → benchmark decontamination
    * → per-source manifest. Every stage is an audited operator
    * ([[operators.QualityRules]], [[operators.Dedup]]'s keeper shape,
    * [[operators.Decontamination.clean]]); the ruled survivor set
    * persists once for its three consumers, the dedup keeper set rides
    * a semi-join, the benchmark shingles broadcast. Compare q83, the
    * near-dup/CC chain — this is the cheap-first ordering a production
    * pipeline runs when exact dedup suffices. */
  def q177_curation_v2(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    val ruled = QualityRules.filterByRules(docs, "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keepers = ruled
      .groupBy(md5(col("text")).as("_h"))
      .agg(min(col("doc_id")).as("_k")).select("_k")
    val deduped = ruled.join(keepers,
      ruled("doc_id") === keepers("_k"), "left_semi")
    val cleaned = Decontamination.clean(
      deduped.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"), "doc_id", "text", n = 4)
    cleaned.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(TF.tokenCount(col("text")).cast("long")).as("n_tokens"))
  }

  /** BPE-ish regex token accounting over the JSON `props` strings —
    * the class-split pretokenization (letter runs / digit runs /
    * punctuation runs) next to the whitespace count, aggregated per
    * event type. Pure codegen'd `regexp_extract_all` + one aggregate;
    * every output is an exact integer. */
  def q178_regex_tokens(s: SparkSession, d: String): DataFrame = {
    def cnt(pat: String): Column =
      coalesce(size(regexp_extract_all(col("props"), lit(pat), lit(0))),
        lit(0)).cast("long")
    T.events(s, d).filter(col("props").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(TF.tokenCount(col("props")).cast("long")).as("n_ws_tokens"),
        sum(TF.bpePieceCount(col("props")).cast("long")).as("n_bpe_pieces"),
        sum(cnt("[A-Za-z]+")).as("n_alpha_runs"),
        sum(cnt("[0-9]+")).as("n_digit_runs"),
        sum(cnt("[^A-Za-z0-9\\s]+")).as("n_punct_runs"))
  }

  /** Sliding-window distinct users: 6-hour windows every hour. The
    * naive plan expands every EVENT ×6 before a countDistinct; this one
    * dedups to (hour, user) pairs FIRST (one map-side-combinable
    * aggregate — the domain collapse), then expands the already-shrunk
    * pair table into its 6 covering windows and counts distinct users
    * per window. At 100 TB the expansion runs over users·hours, not
    * events — orders of magnitude smaller. Window starts are exact
    * epoch-hour integers turned back into timestamps. */
  def q179_sliding_distinct(s: SparkSession, d: String): DataFrame = {
    val hourUser = T.events(s, d)
      .select((floor(unix_micros(col("ts")) / lit(3600000000L)))
        .cast("long").as("_h"), col("user_id"))
      .groupBy("_h", "user_id").agg(count(lit(1)).as("_n"))
    hourUser
      .select(col("_h"), col("user_id"), col("_n"),
        explode(sequence(col("_h") - 5, col("_h"))).as("_w"))
      .groupBy("_w")
      .agg(countDistinct(col("user_id")).as("n_users"),
        sum(col("_n")).as("n_events"))
      .select(timestamp_micros((col("_w") * 3600000000L))
        .as("window_start"), col("n_users"), col("n_events"))
  }

  /** Point-in-time feature-store join: each purchase attaches its
    * user's latest click value AND latest view value, both strictly
    * as-of the purchase time — two chained [[operators.EventJoins.asOf]]
    * passes (each one keyed shuffle), the leak-free construction a
    * feature platform must guarantee (a feature computed after the
    * label's timestamp is the classic training-serving skew bug). */
  def q180_feature_store(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").as("label_value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").as("f_click_value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").as("f_view_value"))
    val withClick = EventJoins.asOf(purchases, clicks,
      Seq("user_id"), "ts", "event_id")
    EventJoins.asOf(withClick, views, Seq("user_id"), "ts", "event_id")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("label_value"), col("f_click_value"), col("f_view_value"))
  }

  /** Per-source quality report card: how often each Gopher rule passes
    * per source — the audit table a curation run publishes next to its
    * manifest. Pure projection + one aggregate; rates are exact count
    * ratios. */
  def q181_rule_report(s: SparkSession, d: String): DataFrame = {
    def rate(c: String) =
      round(sum(col(c).cast("long")).cast("double") / count(lit(1))
        + lit(1e-9), 6).as(s"rate_${c.stripPrefix("r_")}")
    QualityRules.gopherRules(T.documents(s, d))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_keep"),
        rate("r_word_count"), rate("r_mean_word_len"),
        rate("r_dup_bigram"), rate("r_stopwords"))
  }

  /** Grid-bucketed spatial radius join in the (embedding₁, embedding₂)
    * plane: all pairs within distance r — the 2-D analog of the
    * bucketized range join. One side expands to its 3×3 neighbor cells
    * (cell = floor(coord/r), so any ≤r pair co-resides in some probed
    * cell), candidates are an equi-join on the cell key, and the exact
    * distance predicate prunes — candidate count is bounded by cell
    * co-residency, never the |A|·|B| cross product a raw distance
    * join degenerates to. */
  def q182_spatial_join(s: SparkSession, d: String): DataFrame = {
    val r = 0.02
    val pts = T.embeddings(s, d).select(col("vec_id"),
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"))
    val a = pts.select(col("vec_id").as("a"), col("x").as("ax"),
        col("y").as("ay"),
        floor(col("x") / r).cast("long").as("_cx"),
        floor(col("y") / r).cast("long").as("_cy"))
      .withColumn("_dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("_dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("a"), col("ax"), col("ay"),
        (col("_cx") + col("_dx")).as("_cx"),
        (col("_cy") + col("_dy")).as("_cy"))
    val b = pts.select(col("vec_id").as("b"), col("x").as("bx"),
      col("y").as("by"),
      floor(col("x") / r).cast("long").as("_cx"),
      floor(col("y") / r).cast("long").as("_cy"))
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    a.join(b, Seq("_cx", "_cy"))
      .filter(col("a") < col("b") && d2 <= lit(r) * lit(r))
      .select(col("a"), col("b"),
        round(sqrt(d2) + lit(1e-9), 6).as("dist"))
  }

  /** Hashing-trick collision audit: the diagnostic a pipeline runs
    * before committing to a hashed feature space — distinct corpus
    * tokens hashed with the EXACT vectorizer arithmetic
    * ([[sources.FeatureVectorizer]]: md5 first-8-hex → base-10 → mod
    * buckets) into a deliberately small 16-bucket space, reporting
    * per-bucket key counts. Gates the hash arithmetic itself: the
    * oracle reproduces the same md5-digit modulus. */
  def q183_hash_collisions(s: SparkSession, d: String): DataFrame = {
    val keys = T.documents(s, d)
      .select(explode(TF.tokens(col("text"))).as("term")).distinct()
    val bucket = pmod(conv(substring(md5(
      sources.FeatureVectorizer.featureKey(lit("tok"), col("term"))),
      1, 8), 16, 10).cast("long"), lit(16L))
    keys.select(bucket.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_keys"))
      .withColumn("collided", col("n_keys") > 1)
  }

  /** Engagement concentration: the Gini coefficient of per-user event
    * counts ([[operators.Ranks.gini]]) — the skew diagnostic that
    * decides whether a user-keyed operation needs salting. Stays
    * integer-exact on the distributed rank surface until one final
    * division. */
  def q184_engagement_gini(s: SparkSession, d: String): DataFrame = {
    val perUser = T.events(s, d).groupBy("user_id")
      .agg(count(lit(1)).as("c"))
    Ranks.gini(perUser, "c")
  }

  /** Kaplan-Meier survival curve of inter-purchase waiting times: each
    * consecutive purchase gap (in whole hours) is an OBSERVED duration;
    * a user's final open gap (last purchase → corpus horizon) is
    * right-censored. Death/censor counts per integer hour and the
    * at-risk set reduce exactly from one per-user lead window + one
    * aggregate (the duration domain — the observation span in hours —
    * bounds the curve table, so the KM window runs over ≤ span rows,
    * never the users); the product-limit estimator mirrors as an
    * ordered ln-sum (identical summation order in both engines, so the
    * doubles agree bitwise). */
  def q185_kaplan_meier(s: SparkSession, d: String): DataFrame = {
    val t = unix_micros(col("ts"))
    val ev = T.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), t.as("_t"), col("event_id"))
    val wu = Window.partitionBy("user_id")
      .orderBy(col("_t"), col("event_id"))
    val horizon = ev.agg(max(t).as("_hmax"))
    val durations = purchases
      .withColumn("_next", lead(col("_t"), 1).over(wu))
      .crossJoin(broadcast(horizon))
      .select(
        floor((coalesce(col("_next"), col("_hmax")) - col("_t"))
          / lit(3600000000.0)).cast("long").as("dur_hours"),
        col("_next").isNotNull.cast("long").as("_event"))
    val byHour = durations.groupBy("dur_hours")
      .agg(sum(col("_event")).as("n_events"),
        sum(lit(1L) - col("_event")).as("n_censored"))
    val w = Window.orderBy("dur_hours")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = durations.count()
    val atRisk = (lit(total) -
      (sum(col("n_events") + col("n_censored")).over(w) -
        (col("n_events") + col("n_censored")))).as("n_at_risk")
    byHour.withColumn("n_at_risk", atRisk)
      // the row where every remaining subject dies has ln(0): emit its
      // (and any later row's) survival as exactly 0 instead of folding
      // −∞ through the ln-sum — Spark's log(0) is null and DuckDB's
      // errors, so the guard is also the cross-engine contract
      .withColumn("_dead", col("n_events") === col("n_at_risk"))
      .withColumn("_term",
        when(col("_dead"), lit(0.0)).otherwise(
          log(lit(1.0) - col("n_events").cast("double") /
            col("n_at_risk").cast("double"))))
      .withColumn("surv",
        when(max(col("_dead")).over(w), lit(0.0)).otherwise(
          round(exp(sum(col("_term")).over(w)) + lit(1e-9), 6)))
      .select(col("dur_hours"), col("n_at_risk"), col("n_events"),
        col("n_censored"), col("surv"))
  }

  /** Log-rank test on the q185 surface: do waiting times after BIG
    * purchases (value > 100) differ from the rest? Observed group-1
    * deaths stay integer; expected deaths and the hypergeometric
    * variance are fixed double expressions over the exact integer risk
    * sets, reduced on the same bounded per-hour curve table. One row:
    * (o1, e1, z). */
  def q186_logrank(s: SparkSession, d: String): DataFrame = {
    val t = unix_micros(col("ts"))
    val ev = T.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), t.as("_t"), col("event_id"),
        (col("value") > 100.0).cast("long").as("_g1"))
    val wu = Window.partitionBy("user_id")
      .orderBy(col("_t"), col("event_id"))
    val horizon = ev.agg(max(t).as("_hmax"))
    val durations = purchases
      .withColumn("_next", lead(col("_t"), 1).over(wu))
      .crossJoin(broadcast(horizon))
      .select(
        floor((coalesce(col("_next"), col("_hmax")) - col("_t"))
          / lit(3600000000.0)).cast("long").as("dur_hours"),
        col("_next").isNotNull.cast("long").as("_ev"), col("_g1"))
    val byHour = durations.groupBy("dur_hours")
      .agg(sum(col("_ev")).as("_d"),
        sum(col("_ev") * col("_g1")).as("_d1"),
        count(lit(1)).as("_m"), sum(col("_g1")).as("_m1"))
    val w = Window.orderBy("dur_hours")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = durations.agg(count(lit(1)).as("n"),
      sum(col("_g1")).as("n1")).head()
    val (total, total1) = (tot.getLong(0), tot.getLong(1))
    val n = lit(total) - (sum(col("_m")).over(w) - col("_m"))
    val n1 = lit(total1) - (sum(col("_m1")).over(w) - col("_m1"))
    val nD = col("_n").cast("double")
    val n1D = col("_n1").cast("double")
    val dD = col("_d").cast("double")
    val terms = byHour
      .withColumn("_n", n).withColumn("_n1", n1)
      .select(col("_d1"),
        round(dD * n1D / nD, 9).cast("decimal(18,9)").as("_e1"),
        round(when(col("_n") > 1,
          dD * (n1D / nD) * (lit(1.0) - n1D / nD) *
            (nD - dD) / (nD - lit(1.0))).otherwise(lit(0.0)), 9)
          .cast("decimal(18,9)").as("_v"))
      .agg(sum(col("_d1")).as("o1"), sum(col("_e1")).as("_se"),
        sum(col("_v")).as("_sv"))
    terms.select(col("o1"),
      round(col("_se").cast("double") + lit(1e-9), 6).as("e1"),
      round((col("o1").cast("double") - col("_se").cast("double")) /
        sqrt(col("_sv").cast("double")) + lit(1e-9), 6).as("z"))
  }

  /** Difference-in-differences: treated (even user ids) vs control,
    * pre (days 1-15) vs post, on per-user purchase-value totals.
    * Unit-period sums are decimal-exact; each user's post−pre delta is
    * an exact decimal turned into an exactly-representable double, and
    * the group moments sum as 9dp decimals (the q170 convention), so
    * effect, Welch SE, and t mirror bitwise. One conditional aggregate
    * per user — the panel never materializes wider than its unit
    * table. */
  def q187_did(s: SparkSession, d: String): DataFrame = {
    val deltas = T.events(s, d)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .groupBy("user_id")
      .agg(
        sum(when(dayofmonth(col("ts")) <= 15, dec(col("value"), 18, 2))
          .otherwise(lit(0).cast("decimal(18,2)"))).as("_pre"),
        sum(when(dayofmonth(col("ts")) > 15, dec(col("value"), 18, 2))
          .otherwise(lit(0).cast("decimal(18,2)"))).as("_post"))
      .select((col("user_id") % 2 === 0).as("_treated"),
        (col("_post") - col("_pre")).cast("double").as("_delta"))
    def d9(c: Column) = round(c, 9).cast("decimal(18,9)")
    val g = deltas.groupBy("_treated")
      .agg(count(lit(1)).as("n"), sum(d9(col("_delta"))).as("_s"),
        sum(d9(col("_delta") * col("_delta"))).as("_ss"))
    val t = g.filter(col("_treated"))
      .select(col("n").as("n_t"), col("_s").as("_st"), col("_ss").as("_sst"))
    val c = g.filter(!col("_treated"))
      .select(col("n").as("n_c"), col("_s").as("_sc"), col("_ss").as("_ssc"))
    val ntD = col("n_t").cast("double")
    val ncD = col("n_c").cast("double")
    val mt = col("_st").cast("double") / ntD
    val mc = col("_sc").cast("double") / ncD
    val vt = (col("_sst").cast("double") - col("_st").cast("double") *
      col("_st").cast("double") / ntD) / (ntD - lit(1.0))
    val vc = (col("_ssc").cast("double") - col("_sc").cast("double") *
      col("_sc").cast("double") / ncD) / (ncD - lit(1.0))
    val eff = mt - mc
    val se = sqrt(vt / ntD + vc / ncD)
    t.crossJoin(c).select(col("n_t"), col("n_c"),
      round(eff + lit(1e-9), 6).as("did_effect"),
      round(se + lit(1e-9), 6).as("se"),
      round(eff / se + lit(1e-9), 6).as("t_stat"))
  }

  /** Corpus coverage diagnostics from the token frequency spectrum:
    * Chao1's unseen-species estimate (V + f1²/(2f2)), Good-Turing
    * unseen probability mass (f1/N), and unigram entropy — the
    * "how much vocabulary haven't we crawled yet" questions. One token
    * count aggregate (bounded by the vocabulary), then a
    * counts-of-counts table smaller still; entropy terms round to 9dp
    * decimals before summing so the total is order-independent. */
  def q188_vocab_coverage(s: SparkSession, d: String): DataFrame = {
    val counts = T.documents(s, d)
      .select(explode(TF.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val spectrum = counts.groupBy("c").agg(count(lit(1)).as("m"))
    val tot = spectrum.agg(sum(col("m")).as("v"),
      sum(col("c") * col("m")).as("n"),
      sum(when(col("c") === 1, col("m")).otherwise(0L)).as("f1"),
      sum(when(col("c") === 2, col("m")).otherwise(0L)).as("f2"))
    val nD = col("n").cast("double")
    val p = col("c").cast("double") / nD
    val ent = spectrum.crossJoin(broadcast(tot))
      .select(round(col("m").cast("double") * (p * log(p)), 9)
        .cast("decimal(18,9)").as("_e"))
      .agg(sum(col("_e")).as("_ent"))
    val f1D = col("f1").cast("double")
    tot.crossJoin(broadcast(ent)).select(
      col("v").as("n_distinct"), col("n").as("n_tokens"),
      col("f1"), col("f2"),
      // bias-corrected Chao1: defined even when f2 = 0 (and exactly v
      // when the corpus has no hapax legomena at all)
      round(col("v").cast("double") + f1D * (f1D - lit(1.0)) /
        (lit(2.0) * (col("f2").cast("double") + lit(1.0)))
        + lit(1e-9), 6).as("chao1"),
      round(f1D / col("n").cast("double") + lit(1e-9), 6)
        .as("good_turing_p0"),
      round(-col("_ent").cast("double") + lit(1e-9), 6)
        .as("unigram_entropy"))
  }

  /** RFM segmentation: quintile scores for recency / frequency /
    * monetary per purchasing user, reduced to segment counts. The
    * classic implementation is `ntile(5)` — an unpartitioned window,
    * i.e. a single-task global sort; here the quintile fences come
    * from [[operators.Profiling.exactQuantiles]] (range-partitioned
    * parallel sort) and are inlined as rounded LITERALS into a pure
    * codegen scoring projection, so after the fence pass nothing
    * shuffles but the final 125-cell aggregate. Fence comparisons use
    * the strict `>` on 6dp-rounded fences, mirrored exactly. */
  def q189_rfm(s: SparkSession, d: String): DataFrame = {
    val t = unix_micros(col("ts"))
    val ev = T.events(s, d)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
    val hmax = ev.agg(max(t)).head().getLong(0)
    val users = ev.groupBy("user_id")
      .agg(floor((lit(hmax) - max(t)) / lit(86400000000.0))
        .cast("double").as("rec"),
        count(lit(1)).cast("double").as("freq"),
        sum(dec(col("value"), 18, 2)).cast("double").as("mon"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ps = Seq(0.2, 0.4, 0.6, 0.8)
    def fences(c: String): Seq[Double] =
      Profiling.exactQuantiles(users, c, ps)
        .map(q => BigDecimal(q + 1e-9)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    def bucket(c: String): Column =
      fences(c).map(f => when(col(c) > f, 1).otherwise(0))
        .reduce(_ + _) + lit(1)
    users
      .select((lit(6) - bucket("rec")).as("r_score"),
        bucket("freq").as("f_score"), bucket("mon").as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"))
  }

  /** CUSUM change detection over daily means per event type. The CUSUM
    * recursion S⁺ₜ = max(0, S⁺ₜ₋₁ + devₜ) is not window-expressible —
    * but its closed form IS: S⁺ₜ = cumₜ − min(0, min_{j≤t} cumⱼ) (and
    * the mirrored max identity for S⁻), so the whole detector becomes
    * running sum + running min/max over the bounded per-day table —
    * deterministic, identical evaluation order in both engines. Daily
    * means and the per-type baseline use the decimal-exact q170
    * conventions; alarms fire at 3σ of the daily means. */
  def q190_cusum(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value"))
    val daily = ev.groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"), sum(dec(col("value"), 18, 6)).as("_s"))
      .withColumn("_md", col("_s").cast("double") / col("n").cast("double"))
    val bm9 = round(col("_md"), 9).cast("decimal(18,9)")
    val bq9 = round(col("_md") * col("_md"), 9).cast("decimal(18,9)")
    val base = daily.groupBy("event_type")
      .agg(count(lit(1)).as("_bn"), sum(bm9).as("_bs"), sum(bq9).as("_bss"))
    val bn = col("_bn").cast("double")
    val bs = col("_bs").cast("double")
    val mu = bs / bn
    val sd = sqrt((col("_bss").cast("double") - bs * bs / bn)
      / (bn - lit(1.0)))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dev = col("_md") - mu
    val joined = daily.join(broadcast(base), "event_type")
      .withColumn("_dev", dev)
      .withColumn("_cum", sum(col("_dev")).over(w))
      .withColumn("_sp", col("_cum") -
        least(lit(0.0), min(col("_cum")).over(w)))
      .withColumn("_sn",
        greatest(lit(0.0), max(col("_cum")).over(w)) - col("_cum"))
    joined.select(col("event_type"), col("day"),
      round(col("_dev") + lit(1e-9), 6).as("dev"),
      round(col("_sp") + lit(1e-9), 6).as("cusum_pos"),
      round(col("_sn") + lit(1e-9), 6).as("cusum_neg"),
      (col("_sp") > lit(3.0) * sd).as("alarm_pos"),
      (col("_sn") > lit(3.0) * sd).as("alarm_neg"))
  }

  /** Mann-Kendall trend test per event type: the non-parametric
    * "is this metric drifting" answer over daily means. S = Σ sign
    * pairs stays INTEGER (pairs form on the BOUNDED per-day table —
    * days², never events²), the tie-corrected variance is an integer
    * expression, and only the final z divides. Daily means use the
    * decimal-exact convention so the sign comparisons are
    * deterministic. */
  def q194_mann_kendall(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
    val daily = ev.groupBy("event_type", "day")
      .agg((sum(dec(col("value"), 18, 6)).cast("double") /
        count(lit(1))).as("md"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = daily.select(col("event_type"), col("day").as("d1"),
      col("md").as("x1"))
    val b = daily.select(col("event_type"), col("day").as("d2"),
      col("md").as("x2"))
    val sPairs = a.join(b, Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .groupBy("event_type")
      .agg(sum(signum(col("x2") - col("x1")).cast("long")).as("s_stat"))
    // tie correction over the distinct-value multiplicities
    val ties = daily.groupBy("event_type", "md")
      .agg(count(lit(1)).as("_t"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("_dv"), sum(col("_t")).as("n_days"),
        sum(col("_t") * (col("_t") - 1) * (lit(2) * col("_t") + 5))
          .as("_tsum"))
    val nD = col("n_days").cast("double")
    val varD = (nD * (nD - lit(1.0)) * (lit(2.0) * nD + lit(5.0)) -
      col("_tsum").cast("double")) / lit(18.0)
    val sD = col("s_stat").cast("double")
    val zExpr = when(col("s_stat") > 0, (sD - lit(1.0)) / sqrt(varD))
      .when(col("s_stat") < 0, (sD + lit(1.0)) / sqrt(varD))
      .otherwise(lit(0.0))
    sPairs.join(ties, "event_type")
      .select(col("event_type"), col("n_days"), col("s_stat"),
        round(zExpr + lit(1e-9), 6).as("z"))
  }

  /** Additive seasonal decomposition (STL-lite) of daily means per
    * event type: trend = centered 7-day moving average, seasonal =
    * day-of-week mean of the detrended series, residual = the rest —
    * the forecasting-prep step before anomaly thresholds. Frame sums
    * run over 9dp-decimal daily means, so the moving average is
    * order-independent (a double frame sum would depend on the
    * engine's in-frame summation order); everything reduces from the
    * bounded per-day table, and the 35-row seasonal table joins back
    * broadcast. Edge days average over their truncated frame — same
    * explicit frame in both engines. */
  def q195_seasonal_decompose(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
    val daily = ev.groupBy("event_type", "day")
      .agg((sum(dec(col("value"), 18, 6)).cast("double") /
        count(lit(1))).as("_md"))
      .withColumn("_md9", round(col("_md"), 9).cast("decimal(18,9)"))
    val wt = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-3, 3)
    val withTrend = daily
      .withColumn("_trend", sum(col("_md9")).over(wt).cast("double") /
        count(col("_md9")).over(wt))
      .withColumn("_detr", col("_md") - col("_trend"))
      .withColumn("dow", dayofweek(col("day")))
    val seasonal = withTrend.groupBy("event_type", "dow")
      .agg((sum(round(col("_detr"), 9).cast("decimal(18,9)"))
        .cast("double") / count(lit(1))).as("_seas"))
    withTrend.join(broadcast(seasonal), Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("dow"),
        round(col("_md") + lit(1e-9), 6).as("observed"),
        round(col("_trend") + lit(1e-9), 6).as("trend"),
        round(col("_seas") + lit(1e-9), 6).as("seasonal"),
        round(col("_detr") - col("_seas") + lit(1e-9), 6).as("residual"))
  }

  /** Seasonal-naive forecast backtest: predict each day's mean with
    * the same weekday's value one week earlier (the baseline every
    * forecasting system must beat) and score MAE / RMSE / sMAPE over
    * the days where a lag-7 prediction exists. One lag window over the
    * bounded per-day table; error terms round to 9dp decimals before
    * summing so the metrics are order-independent. */
  def q196_forecast_backtest(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
    val daily = ev.groupBy("event_type", "day")
      .agg((sum(dec(col("value"), 18, 6)).cast("double") /
        count(lit(1))).as("md"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val scored = daily
      .withColumn("_pred", lag(col("md"), 7).over(w))
      .filter(col("_pred").isNotNull)
    def d9(c: Column) = round(c, 9).cast("decimal(18,9)")
    val err = col("md") - col("_pred")
    val sm = abs(err) / ((abs(col("md")) + abs(col("_pred"))) / lit(2.0))
    scored.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        round(sum(d9(abs(err))).cast("double") / count(lit(1))
          + lit(1e-9), 6).as("mae"),
        round(sqrt(sum(d9(err * err)).cast("double") / count(lit(1)))
          + lit(1e-9), 6).as("rmse"),
        round(sum(d9(sm)).cast("double") / count(lit(1))
          + lit(1e-9), 6).as("smape"))
  }

  /** Daily retention state machine: for every user and day-of-month,
    * active/inactive, then the 2×2 transition counts between
    * consecutive days — the churn/resurrection accounting behind
    * retention dashboards (cohort curves show survival; this shows the
    * FLOWS). The dense user×day grid comes from exploding a 30-element
    * sequence per user — grid size is users·days, never events — and
    * transitions are one lag window over it. */
  def q197_retention_states(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
      .select(col("user_id"), dayofmonth(col("ts")).as("dy"))
    val active = ev.distinct()
    val grid = ev.select("user_id").distinct()
      .select(col("user_id"), explode(sequence(lit(1), lit(30))).as("dy"))
    val state = grid.join(active.withColumn("_a", lit(1)),
        Seq("user_id", "dy"), "left")
      .select(col("user_id"), col("dy"),
        coalesce(col("_a"), lit(0)).as("st"))
    val w = Window.partitionBy("user_id").orderBy("dy")
    state.withColumn("_prev", lag(col("st"), 1).over(w))
      .filter(col("_prev").isNotNull)
      .groupBy((col("dy") - 1).as("day_from"),
        col("_prev").as("from_state"), col("st").as("to_state"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Source-similarity matrix: vocabulary Jaccard between every pair
    * of corpus sources — the "are these two feeds the same thing"
    * diagnostic before mixture weighting. Intersections come from the
    * per-token source list (collect_set bounded by the SOURCE domain,
    * never documents) exploded into pairs — Σ per-token |sources|²
    * work, no doc-level self-join; unions are |A|+|B|−∩ from the
    * per-source distinct counts, broadcast back. */
  def q198_source_similarity(s: SparkSession, d: String): DataFrame = {
    val st = T.documents(s, d)
      .select(col("source"), explode(TF.tokens(col("text"))).as("tok"))
      .distinct()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("_n"))
    val pairs = st.groupBy("tok")
      .agg(collect_set(col("source")).as("_ss"))
      .select(explode(expr(
        """flatten(transform(_ss, a ->
          |  transform(filter(_ss, b -> b > a),
          |    b -> struct(a AS sa, b AS sb))))""".stripMargin)).as("p"))
      .groupBy(col("p.sa").as("source_a"), col("p.sb").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("_n").as("_na"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("_n").as("_nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("_na") + col("_nb") - col("n_common")).cast("double")
          + lit(1e-9), 6).as("jaccard"))
  }

  /** Lead-lag cross-correlation: corr(click daily mean, purchase daily
    * mean shifted by k) for k ∈ [−3, 3] — does click volume lead
    * purchases? All moments are 9dp-decimal sums over the bounded
    * aligned day table, one row per lag, correlation mirrored as one
    * double expression. */
  def q199_lead_lag(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d).filter(col("value").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
    val daily = ev.filter(col("event_type").isin("click", "purchase"))
      .groupBy("event_type", "day")
      .agg((sum(dec(col("value"), 18, 6)).cast("double") /
        count(lit(1))).as("md"))
    val c = daily.filter(col("event_type") === "click")
      .select(col("day"), col("md").as("x"))
    val p = daily.filter(col("event_type") === "purchase")
      .select(col("day").as("_pd"), col("md").as("y"))
    def d9(cx: Column) = round(cx, 9).cast("decimal(18,9)")
    val withLag = c.crossJoin(
        s.range(-3, 4).select(col("id").cast("int").as("lag")))
      .join(p, date_add(col("day"), col("lag")) === col("_pd"))
    val g = withLag.groupBy("lag")
      .agg(count(lit(1)).as("n"), sum(d9(col("x"))).as("_sx"),
        sum(d9(col("y"))).as("_sy"), sum(d9(col("x") * col("y"))).as("_sxy"),
        sum(d9(col("x") * col("x"))).as("_sxx"),
        sum(d9(col("y") * col("y"))).as("_syy"))
    val nD = col("n").cast("double")
    val sx = col("_sx").cast("double")
    val sy = col("_sy").cast("double")
    val corr = (nD * col("_sxy").cast("double") - sx * sy) /
      (sqrt(nD * col("_sxx").cast("double") - sx * sx) *
        sqrt(nD * col("_syy").cast("double") - sy * sy))
    g.select(col("lag"), col("n").as("n_days"),
      round(corr + lit(1e-9), 6).as("ccf"))
  }

  /** Corpus health report: the one-table executive summary a curation
    * run publishes — document/token volume, mean length, vocabulary
    * size, Gopher keep rate, exact-duplicate rate — as (metric, value)
    * rows. Two scans of the documents table (raw stats + rule
    * verdicts) and one vocabulary aggregate; every value is an exact
    * count or a 6dp-rounded ratio of exact counts. */
  def q200_corpus_report(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = T.documents(s, d)
    val base = docs.agg(count(lit(1)).as("n"),
      sum(TF.tokenCount(col("text")).cast("long")).as("toks"),
      countDistinct(md5(col("text"))).as("uniq"),
      countDistinct(col("source")).as("srcs")).head()
    val keep = QualityRules.gopherRules(docs)
      .agg(sum(col("keep").cast("long"))).head().getLong(0)
    val vocab = docs.select(explode(TF.tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t"))).head().getLong(0)
    val n = base.getLong(0)
    def r6(x: Double): Double =
      BigDecimal(x + 1e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    Seq(
      ("n_docs", n.toDouble),
      ("n_tokens", base.getLong(1).toDouble),
      ("n_sources", base.getLong(3).toDouble),
      ("vocab_size", vocab.toDouble),
      ("mean_doc_tokens", r6(base.getLong(1).toDouble / n)),
      ("gopher_keep_rate", r6(keep.toDouble / n)),
      ("exact_dup_rate", r6((n - base.getLong(2)).toDouble / n)))
      .toDF("metric", "value")
  }

  /** Degree-distribution diagnostic on the customer–supplier graph:
    * per-node degrees (one aggregate over the deduped edge list) and
    * the discrete power-law MLE α̂ = 1 + n / Σ ln(kᵢ/(k_min−½))
    * (Clauset-Shalizi-Newman's continuous approximation at k_min = 1)
    * — the "is this graph scale-free enough to need hub guards"
    * question. ln terms round to 9dp decimals before summing; the
    * degree table is node-sized. */
  def q201_degree_powerlaw(s: SparkSession, d: String): DataFrame = {
    val pairs = T.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(T.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("a"),
        (col("l_suppkey").cast("long") * 2 + 1).as("b")).distinct()
    val degrees = pairs.select(col("a").as("id"))
      .unionByName(pairs.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("k"))
    val lnTerm = round(log(col("k").cast("double") / lit(0.5)), 9)
      .cast("decimal(18,9)")
    degrees.agg(count(lit(1)).as("n_nodes"),
        sum(col("k")).as("sum_degree"), max(col("k")).as("max_degree"),
        sum(lnTerm).as("_sln"))
      .select(col("n_nodes"), col("sum_degree"), col("max_degree"),
        round(lit(1.0) + col("n_nodes").cast("double") /
          col("_sln").cast("double") + lit(1e-9), 6).as("alpha_hat"))
  }

  /** Degree assortativity of the customer–supplier graph: the Pearson
    * correlation of endpoint degrees over edges — do hubs attach to
    * hubs? Every moment (Σj, Σjk, Σj² over directed edge copies) is
    * an exact integer from two degree joins; only the final
    * correlation expression divides. Disassortative r < 0 is the
    * classic bipartite signature. */
  def q202_assortativity(s: SparkSession, d: String): DataFrame = {
    val pairs = T.lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(T.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("a"),
        (col("l_suppkey").cast("long") * 2 + 1).as("b")).distinct()
    val edges = pairs.unionByName(
      pairs.select(col("b").as("a"), col("a").as("b")))
    val degrees = edges.groupBy("a").agg(count(lit(1)).as("k"))
    val joined = edges
      .join(degrees.select(col("a"), col("k").as("_ka")), "a")
      .join(degrees.select(col("a").as("b"), col("k").as("_kb")), "b")
    val m = joined.agg(count(lit(1)).as("m"),
      sum(col("_ka")).as("_sj"), sum(col("_ka") * col("_kb")).as("_sjk"),
      sum(col("_ka") * col("_ka")).as("_sj2"))
    val mD = col("m").cast("double")
    val sj = col("_sj").cast("double")
    val num = col("_sjk").cast("double") / mD - (sj / mD) * (sj / mD)
    val den = col("_sj2").cast("double") / mD - (sj / mD) * (sj / mD)
    m.select(col("m").as("n_directed_edges"), col("_sjk").as("sum_jk"),
      round(num / den + lit(1e-9), 6).as("assortativity"))
  }

  /** Token burstiness: variance-to-mean ratio of per-document counts
    * for the top-20 vocabulary terms — bursty (topical) terms have
    * VMR ≫ 1, function words sit near Poisson. Zeros enter through
    * the known document count, so Σc and Σc² over the term's observed
    * rows are sufficient statistics — exact integers; one mirrored
    * VMR expression per term. */
  def q203_burstiness(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
    val nDocs = docs.count()
    val perDoc = docs
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("c"))
    val byTok = perDoc.groupBy("tok")
      .agg(count(lit(1)).as("_nd"), sum(col("c")).as("_sc"),
        sum(col("c") * col("c")).as("_sc2"))
    val top = byTok.orderBy(col("_sc").desc, col("tok")).limit(20)
    val nD = lit(nDocs).cast("double")
    val mean = col("_sc").cast("double") / nD
    val vr = (col("_sc2").cast("double") -
      col("_sc").cast("double") * col("_sc").cast("double") / nD) /
      (nD - lit(1.0))
    top.select(col("tok"), col("_sc").as("n_occurrences"),
      col("_nd").as("n_docs_with"),
      round(mean + lit(1e-9), 6).as("mean_per_doc"),
      round(vr / mean + lit(1e-9), 6).as("vmr"))
  }

  /** Weighted (frequency-aware) Jaccard between sources: Σ min(fₐ,f_b)
    * / Σ max(fₐ,f_b) over the union vocabulary — q198's refinement
    * when HOW OFTEN matters, not just membership. Only the shared-token
    * Σ min needs a join (Σ max = |a| + |b| − Σ min), so the pair work
    * is bounded by shared vocabulary × source pairs, and every sum is
    * an exact integer until the final ratio. */
  def q204_weighted_jaccard(s: SparkSession, d: String): DataFrame = {
    val tf = T.documents(s, d)
      .select(col("source"), explode(TF.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("f"))
    val totals = tf.groupBy("source").agg(sum(col("f")).as("_tot"))
    val shared = tf.select(col("source").as("source_a"), col("tok"),
        col("f").as("_fa"))
      .join(tf.select(col("source").as("source_b"), col("tok"),
        col("f").as("_fb")), "tok")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(sum(least(col("_fa"), col("_fb"))).as("sum_min"))
    shared
      .join(broadcast(totals.select(col("source").as("source_a"),
        col("_tot").as("_ta"))), "source_a")
      .join(broadcast(totals.select(col("source").as("source_b"),
        col("_tot").as("_tb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("sum_min"),
        round(col("sum_min").cast("double") /
          (col("_ta") + col("_tb") - col("sum_min")).cast("double")
          + lit(1e-9), 6).as("weighted_jaccard"))
  }

  /** Sequence predictability: conditional entropy H(next | prev) of
    * the event-type transition process (nats) plus the marginal
    * next-type entropy — how much knowing the previous event tells
    * you. All probabilities are exact count ratios from the bounded
    * 25-cell transition table; entropy terms round to 9dp decimals
    * before summing. */
  def q205_transition_entropy(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val cells = T.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("_prev", lag(col("event_type"), 1).over(w))
      .filter(col("_prev").isNotNull)
      .groupBy(col("_prev"), col("event_type")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rowTot = cells.groupBy("_prev").agg(sum(col("n")).as("_rt"))
    val colTot = cells.groupBy("event_type").agg(sum(col("n")).as("_ct"))
    val grand = cells.agg(sum(col("n")).as("_g"))
    def d9(c: Column) = round(c, 9).cast("decimal(18,9)")
    val gD = col("_g").cast("double")
    val cond = cells.join(broadcast(rowTot), "_prev")
      .crossJoin(broadcast(grand))
      .select(d9((col("n").cast("double") / gD) *
        log(col("n").cast("double") / col("_rt").cast("double")))
        .as("_t"))
      .agg(sum(col("_t")).as("_hc"))
    val marg = colTot.crossJoin(broadcast(grand))
      .select(d9((col("_ct").cast("double") / gD) *
        log(col("_ct").cast("double") / gD)).as("_t"))
      .agg(sum(col("_t")).as("_hm"))
    cond.crossJoin(marg).crossJoin(grand)
      .select(col("_g").as("n_transitions"),
        round(-col("_hm").cast("double") + lit(1e-9), 6)
          .as("marginal_entropy"),
        round(-col("_hc").cast("double") + lit(1e-9), 6)
          .as("conditional_entropy"),
        round((-col("_hm").cast("double")) -
          (-col("_hc").cast("double")) + lit(1e-9), 6)
          .as("information_gain"))
  }

  /** Cohort LTV curves: users cohorted by first-event week, purchase
    * value accumulated by cohort age — the growth-accounting view that
    * tells you whether newer cohorts monetize faster. Per-(cohort,
    * age) sums stay exact decimals and the cumulative-over-age window
    * sums DECIMALS (order-independent); only the final per-user
    * normalization divides. Cohort sizes broadcast back. */
  def q206_cohort_ltv(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
    val wk = floor((dayofmonth(col("ts")) - 1) / 7).cast("int")
    val cohorts = ev.groupBy("user_id")
      .agg(min(wk).as("cohort_week"))
    val sizes = cohorts.groupBy("cohort_week")
      .agg(count(lit(1)).as("n_cohort_users"))
    val pv = ev.filter(col("event_type") === "purchase" &&
        col("value").isNotNull)
      .select(col("user_id"), wk.as("_wk"), col("value"))
      .join(cohorts, "user_id")
      .groupBy(col("cohort_week"),
        (col("_wk") - col("cohort_week")).as("age_week"))
      .agg(sum(dec(col("value"), 18, 2)).as("_v"))
    val w = Window.partitionBy("cohort_week").orderBy("age_week")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pv.withColumn("_cum", sum(col("_v")).over(w))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("age_week"), col("n_cohort_users"),
        round(col("_cum").cast("double") /
          col("n_cohort_users").cast("double") + lit(1e-9), 6)
          .as("cum_value_per_user"))
  }

  /** Conversion by session depth: sessions cut at 30-minute gaps (the
    * q30 construction), each session's event count bucketed (capped at
    * 10+) against whether it contained a purchase — the do-longer-
    * sessions-convert-better curve. Two keyed windows (gap flag, then
    * running session id) and two aggregates; rates are exact count
    * ratios. */
  def q207_depth_conversion(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = T.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("_new",
        when(lag(col("ts"), 1).over(w).isNull ||
          col("ts") > lag(col("ts"), 1).over(w) +
            expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L))
      .withColumn("_sid", sum(col("_new")).over(wRun))
      .groupBy("user_id", "_sid")
      .agg(count(lit(1)).as("_depth"),
        max((col("event_type") === "purchase").cast("long")).as("_conv"))
    sessions
      .groupBy(least(col("_depth"), lit(10L)).as("depth_bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("_conv")).as("n_converted"),
        round(sum(col("_conv")).cast("double") / count(lit(1))
          + lit(1e-9), 6).as("conversion_rate"))
  }

  /** Revenue concentration deciles: users ranked into ten spend bands
    * by exact-quantile fences (the q189 literal-inlining pattern — no
    * ntile global sort), each band's user count and exact-decimal
    * revenue share — the Pareto curve behind "is 80% of revenue in the
    * top band". Shares divide two exact decimal sums. */
  def q208_revenue_deciles(s: SparkSession, d: String): DataFrame = {
    val rev = T.events(s, d)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .groupBy("user_id")
      .agg(sum(dec(col("value"), 18, 2)).as("_r"))
      .withColumn("_rd", col("_r").cast("double"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fences = Profiling.exactQuantiles(rev, "_rd",
      (1 to 9).map(_ / 10.0))
      .map(q => BigDecimal(q + 1e-9)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val decile = fences.map(f => when(col("_rd") > f, 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    val total = rev.agg(sum(col("_r"))).head().getDecimal(0)
    rev.groupBy(decile.as("decile"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("_r")).cast("double").as("_dr"))
      .select(col("decile"), col("n_users"),
        round(col("_dr") + lit(1e-9), 2).as("revenue"),
        round(col("_dr") / lit(total.doubleValue()) + lit(1e-9), 6)
          .as("revenue_share"))
  }

  // --------------------------------------------------------------- wiring

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01_pricing_summary _),
    "q02_column_stats" -> (q02_column_stats _),
    "q03_brand_revenue" -> (q03_brand_revenue _),
    "q04_offset_plus_scores" -> (q04_offset_plus_scores _),
    "q05_score_add" -> (q05_score_add _),
    "q06_customers_no_orders" -> (q06_customers_no_orders _),
    "q07_brands_with_sales" -> (q07_brands_with_sales _),
    "q08_topk_per_order" -> (q08_topk_per_order _),
    "q09_grouped_mean" -> (q09_grouped_mean _),
    "q10_distinct_flags" -> (q10_distinct_flags _),
    "q11_union_parties" -> (q11_union_parties _),
    "q12_except_custkeys" -> (q12_except_custkeys _),
    "q13_region_revenue" -> (q13_region_revenue _),
    "q14_running_sum" -> (q14_running_sum _),
    "q15_validators" -> (q15_validators _),
    "q16_daily_events" -> (q16_daily_events _),
    "q17_tumbling_window" -> (q17_tumbling_window _),
    "q18_reservoir" -> (q18_reservoir _),
    "q19_binary_downsample" -> (q19_binary_downsample _),
    "q20_dedup_exact" -> (q20_dedup_exact _),
    "q21_token_count" -> (q21_token_count _),
    "q22_text_quality" -> (q22_text_quality _),
    "q23_lang_id" -> (q23_lang_id _),
    "q24_fingerprint" -> (q24_fingerprint _),
    "q25_shingle_stats" -> (q25_shingle_stats _),
    "q56_repetition" -> (q56_repetition _),
    "q26_jaccard_pairs" -> (q26_jaccard_pairs _),
    "q57_dup_clusters" -> (q57_dup_clusters _),
    "q27_minhash" -> (q27_minhash _),
    "q28_lsh_buckets" -> (q28_lsh_buckets _),
    "q29_knn_brute" -> (q29_knn_brute _),
    "q30_sessionize" -> (q30_sessionize _),
    "q58_decontam" -> (q58_decontam _),
    "q59_asof_join" -> (q59_asof_join _),
    "q60_split_assign" -> (q60_split_assign _),
    "q61_tfidf" -> (q61_tfidf _),
    "q62_bigram_lm" -> (q62_bigram_lm _),
    "q63_json_extract" -> (q63_json_extract _),
    "q64_range_join" -> (q64_range_join _),
    "q65_column_profile" -> (q65_column_profile _),
    "q66_salted_agg" -> (q66_salted_agg _),
    "q67_salted_join" -> (q67_salted_join _),
    "q69_rolling_features" -> (q69_rolling_features _),
    "q70_rollup" -> (q70_rollup _),
    "q71_pivot" -> (q71_pivot _),
    "q72_grouped_percentiles" -> (q72_grouped_percentiles _),
    "q73_weighted_sample" -> (q73_weighted_sample _),
    "q74_feature_binning" -> (q74_feature_binning _),
    "q75_correlations" -> (q75_correlations _),
    "q76_normalize" -> (q76_normalize _),
    "q77_funnel" -> (q77_funnel _),
    "q78_cohort_retention" -> (q78_cohort_retention _),
    "q79_bloom_join" -> (q79_bloom_join _),
    "q80_sequence_packing" -> (q80_sequence_packing _),
    "q81_incremental_dedup" -> (q81_incremental_dedup _),
    "q82_chunking" -> (q82_chunking _),
    "q83_full_pipeline" -> (q83_full_pipeline _),
    "q84_containment" -> (q84_containment _),
    "q85_target_encoding" -> (q85_target_encoding _),
    "q86_gap_fill" -> (q86_gap_fill _),
    "q87_scd2_history" -> (q87_scd2_history _),
    "q88_triangles" -> (q88_triangles _),
    "q89_iqr_outliers" -> (q89_iqr_outliers _),
    "q90_cooccurrence" -> (q90_cooccurrence _),
    "q31_precision_at_k" -> (q31_precision_at_k _),
    "q32_auc" -> (q32_auc _),
    "q33_rmse" -> (q33_rmse _),
    "q34_embedding_stats" -> (q34_embedding_stats _),
    "q35_grouped_auc" -> (q35_grouped_auc _),
    "q36_aupr_peakf1" -> (q36_aupr_peakf1 _),
    "q37_loglik_aic" -> (q37_loglik_aic _),
    "q40_simhash_pairs" -> (q40_simhash_pairs _),
    "q41_knn_lsh" -> (q41_knn_lsh _),
    "q42_multimodal" -> (q42_multimodal _),
    "q43_knn_ivf" -> (q43_knn_ivf _),
    "q43o_knn_ivf_full" -> (q43o_knn_ivf_full _),
    "q68_knn_ivfpq" -> (q68_knn_ivfpq _),
    "q68o_knn_ivfpq_full" -> (q68o_knn_ivfpq_full _),
    "q44_clean_corpus" -> (q44_clean_corpus _),
    "q45_embedding_dedup" -> (q45_embedding_dedup _),
    "q46_uniform_downsample" -> (q46_uniform_downsample _),
    "q50_glm_logistic" -> (q50_glm_logistic _),
    "q50o_glm_lbfgs" -> (q50o_glm_lbfgs _),
    "q51_glm_tron" -> (q51_glm_tron _),
    "q51o_glm_tron" -> (q51o_glm_tron _),
    "q52_game_events" -> (q52_game_events _),
    "q53_logistic_newton" -> (q53_logistic_newton _),
    "q54_ridge_closed" -> (q54_ridge_closed _),
    "q55_re_means" -> (q55_re_means _),
    "q91_re_ridge" -> (q91_re_ridge _),
    "q42o_multimodal_stats" -> (q42o_multimodal_stats _),
    "q92_streaming_sessions" -> (q92_streaming_sessions _),
    "q93_embedding_quantize" -> (q93_embedding_quantize _),
    "q94_cdc_upsert" -> (q94_cdc_upsert _),
    "q95_bm25" -> (q95_bm25 _),
    "q96_trailing_hour" -> (q96_trailing_hour _),
    "q97_value_ecdf" -> (q97_value_ecdf _),
    "q98_stratified_split" -> (q98_stratified_split _),
    "q99_kfold_cv" -> (q99_kfold_cv _),
    "q100_ohlc_bars" -> (q100_ohlc_bars _),
    "q101_hashed_features" -> (q101_hashed_features _),
    "q102_pagerank" -> (q102_pagerank _),
    "q103_drift_psi" -> (q103_drift_psi _),
    "q104_kmeans" -> (q104_kmeans _),
    "q105_semdedup" -> (q105_semdedup _),
    "q106_fuzzy_match" -> (q106_fuzzy_match _),
    "q107_dup_passages" -> (q107_dup_passages _),
    "q108_mad_outliers" -> (q108_mad_outliers _),
    "q109_ewma_decay" -> (q109_ewma_decay _),
    "q110_vocab_build" -> (q110_vocab_build _),
    "q111_heavy_hitters" -> (q111_heavy_hitters _),
    "q112_trend_slope" -> (q112_trend_slope _),
    "q113_mixture_sample" -> (q113_mixture_sample _),
    "q114_quality_checks" -> (q114_quality_checks _),
    "q115_calibration" -> (q115_calibration _),
    "q116_incremental_minhash" -> (q116_incremental_minhash _),
    "q117_linkage_score" -> (q117_linkage_score _),
    "q118_random_projection" -> (q118_random_projection _),
    "q119_pmi_collocations" -> (q119_pmi_collocations _),
    "q120_negative_sample" -> (q120_negative_sample _),
    "q121_label_prop" -> (q121_label_prop _),
    "q122_hard_negatives" -> (q122_hard_negatives _),
    "q123_snapshot_diff" -> (q123_snapshot_diff _),
    "q124_winsorize" -> (q124_winsorize _),
    "q125_audio_stats" -> (q125_audio_stats _),
    "q126_zorder" -> (q126_zorder _),
    "q127_html_extract" -> (q127_html_extract _),
    "q128_top_terms_by_source" -> (q128_top_terms_by_source _),
    "q129_align_union" -> (q129_align_union _),
    "q130_repeated_spans" -> (q130_repeated_spans _),
    "q131_join_skew_report" -> (q131_join_skew_report _),
    "q132_split_leakage" -> (q132_split_leakage _),
    "q133_streaming_dedup" -> (q133_streaming_dedup _),
    "q134_epoch_shuffle" -> (q134_epoch_shuffle _),
    "q135_char_entropy" -> (q135_char_entropy _),
    "q136_pii_redact" -> (q136_pii_redact _),
    "q137_bpe_pairs" -> (q137_bpe_pairs _),
    "q138_vocab_growth" -> (q138_vocab_growth _),
    "q139_index_union" -> (q139_index_union _),
    "q140_poisson_mle" -> (q140_poisson_mle _),
    "q141_token_budget" -> (q141_token_budget _),
    "q142_owlqn_lasso" -> (q142_owlqn_lasso _),
    "q143_lbfgsb_box" -> (q143_lbfgsb_box _),
    "q144_training_batches" -> (q144_training_batches _),
    "q145_embedding_covariance" -> (q145_embedding_covariance _),
    "q146_rank_fusion" -> (q146_rank_fusion _),
    "q147_model_quality_filter" -> (q147_model_quality_filter _),
    "q148_norm_ridge" -> (q148_norm_ridge _),
    "q149_prior_ridge" -> (q149_prior_ridge _),
    "q150_whitening" -> (q150_whitening _),
    "q151_ab_welch" -> (q151_ab_welch _),
    "q152_chi_square" -> (q152_chi_square _),
    "q153_bootstrap_ci" -> (q153_bootstrap_ci _),
    "q154_canary_audit" -> (q154_canary_audit _),
    "q155_incremental_agg" -> (q155_incremental_agg _),
    "q156_cuped" -> (q156_cuped _),
    "q157_ratio_delta" -> (q157_ratio_delta _),
    "q158_isotonic" -> (q158_isotonic _),
    "q159_ndcg_mrr" -> (q159_ndcg_mrr _),
    "q160_ece" -> (q160_ece _),
    "q161_k_anonymity" -> (q161_k_anonymity _),
    "q162_segment_lift" -> (q162_segment_lift _),
    "q163_ks_test" -> (q163_ks_test _),
    "q164_mann_whitney" -> (q164_mann_whitney _),
    "q165_gopher_rules" -> (q165_gopher_rules _),
    "q166_length_buckets" -> (q166_length_buckets _),
    "q167_delong_auc" -> (q167_delong_auc _),
    "q168_audience_overlap" -> (q168_audience_overlap _),
    "q169_attribution" -> (q169_attribution _),
    "q170_seasonal_anomaly" -> (q170_seasonal_anomaly _),
    "q171_lang_kappa" -> (q171_lang_kappa _),
    "q172_zipf_slope" -> (q172_zipf_slope _),
    "q173_linear_attribution" -> (q173_linear_attribution _),
    "q174_user_tenure" -> (q174_user_tenure _),
    "q175_benford" -> (q175_benford _),
    "q176_transitions" -> (q176_transitions _),
    "q177_curation_v2" -> (q177_curation_v2 _),
    "q178_regex_tokens" -> (q178_regex_tokens _),
    "q179_sliding_distinct" -> (q179_sliding_distinct _),
    "q180_feature_store" -> (q180_feature_store _),
    "q181_rule_report" -> (q181_rule_report _),
    "q182_spatial_join" -> (q182_spatial_join _),
    "q183_hash_collisions" -> (q183_hash_collisions _),
    "q184_engagement_gini" -> (q184_engagement_gini _),
    "q185_kaplan_meier" -> (q185_kaplan_meier _),
    "q186_logrank" -> (q186_logrank _),
    "q187_did" -> (q187_did _),
    "q188_vocab_coverage" -> (q188_vocab_coverage _),
    "q189_rfm" -> (q189_rfm _),
    "q190_cusum" -> (q190_cusum _),
    // q191-q193 were never shipped (drafted, then folded into q194/q195's
    // broader time-series surface); the id gap is intentional, not a drop
    "q194_mann_kendall" -> (q194_mann_kendall _),
    "q195_seasonal_decompose" -> (q195_seasonal_decompose _),
    "q196_forecast_backtest" -> (q196_forecast_backtest _),
    "q197_retention_states" -> (q197_retention_states _),
    "q198_source_similarity" -> (q198_source_similarity _),
    "q199_lead_lag" -> (q199_lead_lag _),
    "q200_corpus_report" -> (q200_corpus_report _),
    "q201_degree_powerlaw" -> (q201_degree_powerlaw _),
    "q202_assortativity" -> (q202_assortativity _),
    "q203_burstiness" -> (q203_burstiness _),
    "q204_weighted_jaccard" -> (q204_weighted_jaccard _),
    "q205_transition_entropy" -> (q205_transition_entropy _),
    "q206_cohort_ltv" -> (q206_cohort_ltv _),
    "q207_depth_conversion" -> (q207_depth_conversion _),
    "q208_revenue_deciles" -> (q208_revenue_deciles _),
    "q209_streaming_file" -> (q209_streaming_file _),
    "q210_passage_rewrite" -> (q210_passage_rewrite _),
    "q211_knn_ivf_index" -> (q211_knn_ivf_index _),
    "q212_dsir_select" -> (q212_dsir_select _),
    "q213_knn_ivfpq_index" -> (q213_knn_ivfpq_index _),
    "q214_knn_ivf_append" -> (q214_knn_ivf_append _),
    "q215_knn_ivfpq_append" -> (q215_knn_ivfpq_append _),
    "q216_leakage_safe_split" -> (q216_leakage_safe_split _),
    "q217_knn_ivf_compact" -> (q217_knn_ivf_compact _),
    "q218_knn_ivfpq_compact" -> (q218_knn_ivfpq_compact _),
    "q219_neardup_grouped_split" -> (q219_neardup_grouped_split _),
    "q220_index_health" -> (q220_index_health _),
    "q221_knn_ivf_stream_ingest" -> (q221_knn_ivf_stream_ingest _),
    "q222_bpe_encode" -> (q222_bpe_encode _),
    "q223_semdedup_incremental" -> (q223_semdedup_incremental _),
    "q224_semdedup_incremental_auto" ->
      (q224_semdedup_incremental_auto _),
    "q225_pack_sequences" -> (q225_pack_sequences _),
    "q226_semantic_decontam" -> (q226_semantic_decontam _),
    "q227_knn_ivfpq_stream_ingest" -> (q227_knn_ivfpq_stream_ingest _),
    "q228_game_train_e2e" -> (q228_game_train_e2e _),
    "q229_index_maintenance" -> (q229_index_maintenance _),
    "q230_index_health_pq" -> (q230_index_health_pq _),
    "q231_game_train_logistic" -> (q231_game_train_logistic _),
    "q232_game_train_incremental" -> (q232_game_train_incremental _),
    "q233_game_score_e2e" -> (q233_game_score_e2e _),
    "q234_fleet_maintenance_plan" -> (q234_fleet_maintenance_plan _),
    "q235_decontam_index" -> (q235_decontam_index _),
    "q236_minhash_index" -> (q236_minhash_index _),
    "q237_semdedup_persisted" -> (q237_semdedup_persisted _),
    "q238_minhash_health" -> (q238_minhash_health _),
    "q239_fleet_text_plan" -> (q239_fleet_text_plan _),
    "q240_semdedup_state_append" -> (q240_semdedup_state_append _),
    "q241_tuning_bayesian" -> (q241_tuning_bayesian _),
    "q242_simhash_index" -> (q242_simhash_index _),
    "q243_simhash_health" -> (q243_simhash_health _),
    "q244_ivf_drift" -> (q244_ivf_drift _),
    "q245_semdedup_state_health" -> (q245_semdedup_state_health _),
    "q246_decontam_health" -> (q246_decontam_health _),
    "q247_fleet_all_families" -> (q247_fleet_all_families _),
    "q248_ivfpq_drift" -> (q248_ivfpq_drift _),
    "q249_daily_ingest" -> (q249_daily_ingest _),
    "q250_exact_index" -> (q250_exact_index _),
    "q251_streaming_admission" -> (q251_streaming_admission _),
    "q252_admission_funnel" -> (q252_admission_funnel _),
    "q253_fleet_apply" -> (q253_fleet_apply _),
    "q254_index_delete" -> (q254_index_delete _),
    "q255_ingest_reconcile" -> (q255_ingest_reconcile _),
    "q256_funnel_history" -> (q256_funnel_history _),
    "q257_ingest_append_loop" -> (q257_ingest_append_loop _),
    "q258_fleet_delete" -> (q258_fleet_delete _),
    "q259_fleet_erase_audit" -> (q259_fleet_erase_audit _),
    "q260_fleet_admission" -> (q260_fleet_admission _),
    "q261_fleet_loop" -> (q261_fleet_loop _),
    "q262_streaming_unified_admission" ->
      (q262_streaming_unified_admission _),
    "q263_fleet_runbook" -> (q263_fleet_runbook _),
    "q264_fleet_deep_probe" -> (q264_fleet_deep_probe _),
    "q265_fleet_ops_loop" -> (q265_fleet_ops_loop _),
    "q266_fleet_backup_restore" -> (q266_fleet_backup_restore _))

  def oracleSql: Map[String, String] = OracleSql.all
}
