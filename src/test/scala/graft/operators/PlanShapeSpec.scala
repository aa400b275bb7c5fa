package graft.operators

import graft.SparkSpec
import graft.sources.Bucketing.hasShuffle
import org.apache.spark.sql.functions._

/** Plan-shape gates for the scale claims the newest operators make:
  * what the scaladoc says is shuffle-free must BE shuffle-free. */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  // 0-shuffle proofs assert what the operators do; the small-input scan
  // fan-out (Tables.fanOut) would add an environment-dependent exchange
  override def withFixture(test: NoArgTest) =
    graft.util.ExecProfile.withConfs(spark,
      Map("spark.graft.fanout" -> "false"))(super.withFixture(test))

  test("zValue attachment is a pure projection (no shuffle)") {
    val df = (1 to 100).map(i => (i.toLong, (i * 7 % 50).toLong))
      .toDF("a", "b")
    assert(!hasShuffle(df.select(ZOrder.zValue(col("a"), col("b"), 6))))
  }

  test("hardNegatives scores and excludes without any shuffle") {
    val corpus = (1 to 50)
      .map(i => (i.toLong, Array.tabulate(4)(j => math.sin(i * (j + 1)))))
      .toDF("id", "v")
    val queries = (1 to 2)
      .map(i => (i.toLong, Array.tabulate(4)(j => math.cos(i + j))))
      .toDF("qid", "qv")
    val positives = (1 to 10).map(i => ((i % 2) + 1L, i.toLong))
      .toDF("qid", "id")
    // broadcast queries + broadcast anti join + partial-aggregate top-k:
    // the only exchange is the final single-partition gather of ≤ k
    // rows per query, which is not a ShuffleExchange on data rows until
    // the aggregate — assert the scoring/exclusion stage itself
    val scored = corpus.join(broadcast(queries))
      .select(col("qid"), col("id"),
        graft.functions.VectorOps.cosine(col("qv"), col("v")).as("cosine"))
      .join(broadcast(positives), Seq("qid", "id"), "left_anti")
    assert(!hasShuffle(scored))
  }

  test("stripHtml and snapshot fingerprints are shuffle-free projections") {
    val docs = Seq((1L, "<p>a</p>")).toDF("id", "t")
    assert(!hasShuffle(docs.select(
      graft.functions.TextFunctions.stripHtml(col("t")))))
  }

  test("negative-sampling candidate generation is map-side until the idx join") {
    val users = Seq(1L, 2L, 3L).toDF("user")
    val cand = users.select(col("user"),
      explode(sequence(lit(0), lit(11))).as("attempt"))
    assert(!hasShuffle(cand))
  }

  test("PII detection and redaction are shuffle-free projections") {
    val docs = Seq((1L, "a@b.co at 10.0.0.1")).toDF("id", "t")
    assert(!hasShuffle(docs.select(
      graft.functions.PiiFunctions.piiCounts(col("t")),
      graft.functions.PiiFunctions.redact(col("t")))))
  }

  test("bpePairCounts shuffles vocab-sized aggregates only (2 exchanges)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = Tokenizer.bpePairCounts(Seq("low low lower").toDF("text"),
      "text")
    df.queryExecution.toRdd.foreach(_ => ())
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => other.children.flatMap(flatten)
    })
    val nodes = flatten(df.queryExecution.executedPlan)
    // corpus → vocab agg (1), vocab → pair agg (2); the corpus itself
    // is never shuffled and no window appears anywhere
    assert(nodes.count {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
      case _ => false
    } == 2)
    assert(!nodes.exists {
      case _: org.apache.spark.sql.execution.window.WindowExec => true
      case _ => false
    })
  }

  private def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
  : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p match {
      case a: AdaptiveSparkPlanExec => flattenPlan(a.executedPlan)
      case q: QueryStageExec => flattenPlan(q.plan)
      case other => other.children.flatMap(flattenPlan)
    })
  }

  test("DSIR scoring joins its bucket table by broadcast, never sort-merge") {
    val docs = (1 to 60).map(i =>
      (i.toLong, (1 to 10).map(j => s"w${(i + j) % 40}").mkString(" "),
        i % 3 == 0)).toDF("doc_id", "text", "t")
    val w = DataSelection.dsirWeights(docs, "doc_id", "text", "t",
      buckets = 32)
    w.queryExecution.toRdd.foreach(_ => ())
    val nodes = flattenPlan(w.queryExecution.executedPlan)
    // the log-ratio table is `buckets` rows — the scoring join must ride
    // a broadcast; a sort-merge here would shuffle the full per-bigram
    // explode by bucket at corpus scale
    assert(!nodes.exists {
      case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => true
      case _ => false
    }, nodes.map(_.nodeName).distinct.mkString(", "))
    assert(nodes.exists {
      case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
      case _ => false
    })
  }

  test("Chunking.chunk is shuffle-free (splits compose with any write)") {
    val docs = Seq((1L, "a b c d e f g h i j")).toDF("id", "t")
    assert(!hasShuffle(Chunking.chunk(docs, "id", "t", 4, 4)))
  }

  test("covarianceUpper is ONE aggregate pass — a single exchange, " +
    "no explode below the aggregate") {
    val df = (1 to 50)
      .map(i => Tuple1(Array.tabulate(4)(j => math.sin(i * (j + 1)))))
      .toDF("v")
    val cov = graft.functions.VectorOps.covarianceUpper(df, "v", 4)
    cov.queryExecution.toRdd.foreach(_ => ())
    val nodes = flattenPlan(cov.queryExecution.executedPlan)
    assert(nodes.count {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
      case _ => false
    } == 1)
    // the (i,j) explode runs over the ONE aggregated row, never the scan:
    // no aggregate may be FED BY a Generate (explode-then-agg would be
    // the dim²-per-row shape the operator exists to avoid)
    assert(!nodes.exists {
      case a if a.isInstanceOf[
        org.apache.spark.sql.execution.aggregate.BaseAggregateExec] =>
        flattenPlan(a).tail.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.GenerateExec])
      case _ => false
    }, "the aggregate must consume the scan directly, not an explode")
  }

  test("indexSetUnion combines map-side: partial + final aggregate pair") {
    val df = Seq((1, Seq(1, 5)), (1, Seq(5, 9)), (2, Seq(0)))
      .toDF("g", "idxs").repartition(4)
    val agg = df.groupBy("g")
      .agg(graft.functions.AggFunctions.indexSetUnion(col("idxs")).as("u"))
    agg.queryExecution.toRdd.foreach(_ => ())
    val nodes = flattenPlan(agg.queryExecution.executedPlan)
    val aggregates = nodes.filter(_.isInstanceOf[
      org.apache.spark.sql.execution.aggregate.BaseAggregateExec])
    // two aggregate operators (partial below the exchange, final above):
    // the bitmap buffers merge BEFORE the shuffle, so a hot group ships
    // one bitmap per task, not its row set
    assert(aggregates.size == 2,
      s"expected partial+final aggregates, saw ${aggregates.size}")
  }

  test("tombstone filtering is free when no deletes are pending: the " +
    "probe plan gains an anti-join ONLY once a tombstone table exists") {
    def countAntiJoins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
          => j
      }.size
    def pt(dim: Int): Array[Float] = {
      val a = new Array[Float](8); a(dim) = 1.0f; a
    }
    val corpus = (0 until 4).map(c => (c.toLong, pt(c))).toDF("id", "v")
    val queries = Seq((0L, pt(1))).toDF("qid", "qv")
    graft.util.TempDirs.using("tombplan") { case Seq(root) =>
      Similarity.ivfBuild(corpus, root, nList = 4, kmeansMaxIter = 2)
      // Tombstones.live is a NO-OP without a tombstone table — the
      // production probe of an index with no retraction debt must not
      // pay any anti-join (the common case at 100 TB)
      assert(countAntiJoins(
        Similarity.ivfQuery(spark, root, queries, k = 1, nProbe = 4)) == 0)
      Similarity.ivfDelete(spark, root, Seq(1L).toDF("id"))
      assert(countAntiJoins(
        Similarity.ivfQuery(spark, root, queries, k = 1, nProbe = 4)) == 1)
      // folding the debt removes the join ENTIRELY: the compaction
      // publishes the empty tombstone table with the folded marker,
      // which readIfAny treats as absent — an index that once saw a
      // delete returns to the zero-plan-cost steady state instead of
      // paying a parquet read + anti-join on every probe forever
      Similarity.ivfCompact(spark, root)
      val post = Similarity.ivfQuery(spark, root, queries, k = 1,
        nProbe = 4)
      assert(countAntiJoins(post) == 0,
        "post-fold probe must be plan-free again (folded marker)")
      assert(post.select("id").as[Long].collect().toSet == Set(2L) ||
        post.count() == 1L)
      // ...and a NEW delete re-arms the table (the marker is cleared
      // before the keys land, so a retraction can never be masked)
      Similarity.ivfDelete(spark, root, Seq(2L).toDF("id"))
      assert(countAntiJoins(
        Similarity.ivfQuery(spark, root, queries, k = 1, nProbe = 4)) == 1)
    }
  }
}
