package graft.operators

import graft.SparkSpec
import graft.sources.Bucketing.countShuffles

/** Shuffle budgets for flagship registry queries: each query's executed
  * plan (AQE-final, at sf0.001) must not exceed the exchange count its
  * scale story promises. A regression here means a projection started
  * shuffling or an aggregate grew an extra stage — the kind of plan
  * drift per-value correctness gates can't see. Budgets are equalities
  * in spirit but asserted as ≤ so an AQE improvement (e.g. a join
  * flipping to broadcast) never fails the suite. The persisted exact
  * probe is pinned by the rows it shuffles: a batch's, not an index's.
  */
class ShuffleBudgetSpec extends SparkSpec {

  // (query, budget): 0 = pure projection end-to-end; 1 = exactly the
  // operator's one irreducible aggregate/window exchange
  private val budgets = Seq(
    "q21_token_count" -> 0,      // per-doc codegen'd text stats
    "q24_fingerprint" -> 0,      // per-doc rolling hash
    "q76_normalize" -> 0,        // per-doc normalization
    "q82_chunking" -> 0,         // chunk explode composes with any write
    "q60_split_assign" -> 0,     // deterministic hash split is row-local
    "q13_region_revenue" -> 1,   // one agg after broadcast joins
    "q20_dedup_exact" -> 1,      // one hash-agg on content hash
    "q08_topk_per_order" -> 1,   // bounded per-group top-k
    "q29_knn_brute" -> 1,        // broadcast queries + one top-k agg
    "q139_index_union" -> 1,     // bitmap union: one grouped aggregate
    "q145_embedding_covariance" -> 1, // single-scan moment aggregate
    "q141_token_budget" -> 1,    // one partition-by-source sort/window
    "q80_sequence_packing" -> 1, // bucket streams: one keyed window
    "q95_bm25" -> 5,             // tf/idf/dl/corpus/final — multi-stage
    "q151_ab_welch" -> 1,        // ONE sufficient-statistics aggregate
    "q152_chi_square" -> 5,      // cached cells + 2 margins + total + final
    "q153_bootstrap_ci" -> 3,    // replicate agg + rank window + CI agg
    "q154_canary_audit" -> 1,    // broadcast probe list + one count agg
    "q155_incremental_agg" -> 3, // 2 snapshots + merge agg
    "q156_cuped" -> 3,           // unit agg + moment agg + variant agg
    "q157_ratio_delta" -> 2,     // unit agg + variant moment agg
    "q158_isotonic" -> 2,        // bin agg (collect side + join side)
    "q159_ndcg_mrr" -> 4,        // top-k agg + rel join + ideal window + agg
    "q160_ece" -> 2,             // reliability bins + final fold
    "q161_k_anonymity" -> 1,     // one QI aggregate
    "q162_segment_lift" -> 3,    // cube agg + segment-domain rank window
    "q165_gopher_rules" -> 0,    // pure codegen'd rule projection
    "q166_length_buckets" -> 1,  // one keyed window; batch agg reuses
                                 // the (band, salt) partitioning
    "q169_attribution" -> 1,     // as-of union + ONE keyed window
    "q170_seasonal_anomaly" -> 1, // bucket agg; baseline reduces from
                                 // cached buckets + broadcast join-back
    "q172_zipf_slope" -> 1,      // vocab agg + bounded TakeOrdered
    "q173_linear_attribution" -> 3, // pair join + purchase count + credit agg
    "q174_user_tenure" -> 1,     // per-user window; agg reuses partitioning
    "q175_benford" -> 2,         // digit agg + single-row total
    "q176_transitions" -> 3,     // user window + cell agg + row margins
    "q177_curation_v2" -> 6,     // dedup agg/semi-join + decontam join +
                                 // manifest; the rules stage shuffles nothing
    "q178_regex_tokens" -> 1,    // codegen'd regex counts + ONE aggregate
    "q179_sliding_distinct" -> 3, // (hour,user) collapse + window agg
                                 // + distinct
    "q180_feature_store" -> 2,   // two chained as-of windows, one each
    "q181_rule_report" -> 1,     // rule projection is free; one aggregate
    "q182_spatial_join" -> 1,    // cell equi-join (AQE broadcasts at
                                 // small SF; ≤1 keyed exchange at scale)
    "q183_hash_collisions" -> 2, // distinct keys + bucket aggregate
    "q185_kaplan_meier" -> 4,    // per-user lead + day agg + curve window
    "q186_logrank" -> 4,         // same surface + group prefix sums
    "q187_did" -> 4,             // unit agg + group moments + final join
    "q188_vocab_coverage" -> 5,  // vocab agg + spectrum + totals + entropy
    "q190_cusum" -> 3,           // day agg + baseline + detector windows
    "q194_mann_kendall" -> 3,    // day agg + pair join + tie agg
    "q195_seasonal_decompose" -> 2, // day agg + trend window (seasonal
                                 // reduces from it, joins back broadcast)
    "q196_forecast_backtest" -> 1, // day agg; lag + metrics reuse it
    "q197_retention_states" -> 3, // active distinct + grid join + lag
    "q198_source_similarity" -> 4, // (src,tok) distinct + set agg +
                                 // pair agg + broadcast size joins
    "q199_lead_lag" -> 3,        // day agg + lag-aligned join + moments
    "q200_corpus_report" -> 0,   // KPIs reduce driver-side; the final
                                 // 7-row frame is a local Seq
    "q201_degree_powerlaw" -> 3, // edge dedup + degree agg + moments
    "q202_assortativity" -> 5,   // + two degree joins over edges
    "q203_burstiness" -> 2,      // (tok, doc) agg + per-token moments
    "q204_weighted_jaccard" -> 4, // tf agg + shared join + pair agg
    "q205_transition_entropy" -> 7, // user window + cell/margin aggs +
                                 // two entropy folds on tiny tables
    "q206_cohort_ltv" -> 5,      // cohort agg + join + age agg +
                                 // cumulative window + size join
    "q207_depth_conversion" -> 2, // session windows (one user shuffle)
                                 // + session agg + tiny bucket agg
    "q208_revenue_deciles" -> 1  // one user agg; fences inline as
                                 // literals, the decile agg reuses it
  )

  budgets.foreach { case (name, budget) =>
    test(s"$name stays within its shuffle budget of $budget") {
      // budgets pin what the OPERATORS shuffle; the small-input fan-out
      // (Tables.fanOut) is an input-layout adaptation that would add one
      // environment-dependent exchange per scan — keep it out of the pin
      val n = graft.util.ExecProfile.withConfs(spark,
          Map("spark.graft.fanout" -> "false")) {
        countShuffles(graft.SparkEntry.queries(name)(spark, sf("sf0.001")))
      }
      assert(n <= budget,
        s"$name shuffles $n times, budget $budget — plan drifted")
    }
  }

  test("exactIndexProbe shuffles the batch's rows and their stored " +
    "matches, not the index") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import spark.implicits._
    graft.util.TempDirs.using("shuffle_exact") { case Seq(dir) =>
      val text = (id: org.apache.spark.sql.Column) =>
        concat(lit("document number "), id)
      Dedup.exactIndexBuild(spark.range(20000)
        .select(col("id"), text(col("id")).as("text")), dir, "id", "text")
      // 16 rows: 8 texts in the index, 8 new
      val batch = (0 until 16).map(i => (100000L + i,
        if (i % 2 == 0) s"document number ${i * 1000}" else s"new $i"))
        .toDF("id", "text")
      val sc = spark.sparkContext
      val records = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
      org.apache.spark.GraftBus.drain(sc)
      sc.addSparkListener(listener)
      val dups = try {
        val out = Dedup.exactIndexProbe(spark, dir, batch, "id", "text")
          .as[(Long, Boolean)].collect()
        org.apache.spark.GraftBus.drain(sc)
        out.count(_._2)
      } finally sc.removeSparkListener(listener)
      assert(dups == 8)
      assert(records.get <= 16 + 8,
        s"the probe shuffled ${records.get} rows for a 16-row batch")
    }
  }
}
