package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Split assignment, benchmark decontamination, and corpus-statistics
  * text scoring (TF-IDF / bigram LM) against hand computations. */
class CorpusOpsSpec extends SparkSpec {

  test("groupedSplit keeps every group member on the same side") {
    import spark.implicits._
    // 300 groups of 3 members each; a row-hash split would scatter them
    val df = (1L to 900L).map(i => (i, s"g${i % 300}")).toDF("id", "grp")
    val fr = Seq("train" -> 0.8, "test" -> 0.2)
    val out = Splits.groupedSplit(df, Seq("grp"), fr)
    assert(out.groupBy("grp")
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") =!= 1).count() == 0)
    // by contrast the row-id split DOES scatter at least one group
    assert(Splits.withSplit(df, "id", fr).groupBy("grp")
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") =!= 1).count() > 0)
    // multi-column groups cannot alias: ("ab","c") and ("a","bc") are
    // DISTINCT groups — their separator-joined hash keys differ (the
    // split labels themselves may still coincide by chance)
    val two = Seq((1L, "ab", "c"), (2L, "a", "bc")).toDF("id", "x", "y")
    val fr2 = two.select(DownSampling.hashFraction(Seq(lit("gsplit"),
      concat_ws("\u0001", col("x"), col("y")))).as("f"))
      .collect().map(_.getDouble(0))
    assert(fr2(0) != fr2(1))
  }

  test("groupedSplit: null group columns are tagged, not dropped") {
    import spark.implicits._
    // concat_ws DROPS nulls, so without the sentinel (null,"a") and
    // ("a",null) would collapse onto the key "a" -- three distinct
    // groups here must produce three distinct hash keys
    val df = Seq((1L, Option.empty[String], Some("a")),
      (2L, Some("a"), Option.empty[String]),
      (3L, Some("a"), Some("a"))).toDF("id", "x", "y")
    val fr = Seq("train" -> 0.5, "test" -> 0.5)
    val out = Splits.groupedSplit(df, Seq("x", "y"), fr)
    // reconstruct the sentinel-tagged keys and check injectivity
    val keys = df.select(concat_ws("\u0001",
      coalesce(col("x"), lit("\u0000null")),
      coalesce(col("y"), lit("\u0000null"))).as("k"))
      .collect().map(_.getString(0))
    assert(keys.distinct.length == 3, s"keys collapsed: ${keys.toSeq}")
    // and a null-keyed group is still ATOMIC: duplicated members across
    // a different partitioning agree on the side
    val dup = df.union(df).repartition(5)
    assert(Splits.groupedSplit(dup, Seq("x", "y"), fr)
      .groupBy("x", "y").agg(countDistinct(col("split")).as("n"))
      .filter(col("n") =!= 1).count() == 0)
    assert(out.count() == 3)
  }

  test("split assignment is deterministic, exhaustive, and near-fractional") {
    import spark.implicits._
    val df = (1L to 4000L).toDF("id")
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = Splits.withSplit(df, "id", fr)
    val b = Splits.withSplit(df.repartition(13), "id", fr)
    // partitioning-independent: identical assignment per id
    assert(a.join(b.withColumnRenamed("split", "split2"), "id")
      .filter(col("split") =!= col("split2")).count() == 0)
    val counts = a.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == 4000)
    assert(math.abs(counts("train") - 3200.0) < 150)
    assert(math.abs(counts("val") - 400.0) < 80)
    // different salts decorrelate: some ids move between splits
    val c = Splits.withSplit(df, "id", fr, salt = "other")
    assert(a.join(c.withColumnRenamed("split", "split2"), "id")
      .filter(col("split") =!= col("split2")).count() > 0)
  }

  test("stratifiedExact: exact rounded per-stratum counts, partition-invariant") {
    import spark.implicits._
    // strata of deliberately awkward sizes: 25 rows at 80% must give
    // exactly 20 (a DECIMAL-exact ceil would give 21, a double ceil 21)
    val df = ((1L to 25L).map(i => (i, "a")) ++
      (26L to 33L).map(i => (i, "b")) ++ Seq((34L, "c")))
      .toDF("id", "grp")
    val fr = Seq("train" -> 0.8, "test" -> 0.2)
    val got = Splits.stratifiedExact(df, "grp", "id", fr)
    val counts = got.groupBy("grp", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts(("a", "train")) == 20L && counts(("a", "test")) == 5L)
    // 8 rows: floor(6.4+0.5)=6 train, 2 test
    assert(counts(("b", "train")) == 6L && counts(("b", "test")) == 2L)
    // 1 row: floor(0.8+0.5)=1 -> train
    assert(counts(("c", "train")) == 1L && !counts.contains(("c", "test")))
    // partitioning-invariant per-row assignment
    val a = got.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    val b = Splits.stratifiedExact(df.repartition(7), "grp", "id", fr)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(a == b)
  }

  test("decontamination flags exactly the docs sharing a 3-gram") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val cands = Seq(
      (1L, "a very quick brown fox indeed"), // shares "quick brown fox"
      (2L, "completely unrelated words here galore"),
      (3L, "brown the fox quick jumps")) // same words, no shared 3-gram
      .toDF("doc_id", "text")
    val rep = Decontamination.report(cands, bench, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(rep(1L) == (1L, true))
    assert(rep(2L) == (0L, false))
    assert(rep(3L) == (0L, false))
    val kept = Decontamination.clean(cands, bench, "doc_id", "text", 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
  }

  test("persisted decontam index: build+append equals the direct " +
    "report, appends stay distinct, and a width mismatch fails loudly") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps"),
      (101L, "pack my box with five dozen"))
      .toDF("doc_id", "text")
    val cands = Seq(
      (1L, "a very quick brown fox indeed"),
      (2L, "with five dozen liquor jugs"),
      (3L, "completely unrelated words here galore"))
      .toDF("doc_id", "text")
    graft.util.TempDirs.using("decontamidx") { case Seq(root) =>
      Decontamination.decontamIndexBuild(
        bench.filter(col("doc_id") === 100L), root, "text", n = 3)
      Decontamination.decontamIndexAppend(spark, root,
        bench.filter(col("doc_id") === 101L), "text")
      // re-appending the SAME benchmark adds nothing (anti-join keeps
      // the stored set distinct); appends publish versioned tables, so
      // reads resolve through the manifest snapshot
      def live() = spark.read.parquet(
        Manifest.snapshot(spark, root).path("shingles")).count()
      val before = live()
      Decontamination.decontamIndexAppend(spark, root, bench, "text")
      assert(live() == before)
      // every append flips the manifest exactly once (atomic whole-set
      // rewrite: readers see the old file set or the new one, never a
      // fragment mix — and a retry re-runs from the old manifest)
      assert(Manifest.snapshot(spark, root).version == 2)
      // the writer lock is enforced: a colliding append throws BEFORE
      // touching live state
      Manifest.withLock(spark, root) {
        val e = intercept[IllegalStateException] {
          Decontamination.decontamIndexAppend(spark, root, bench, "text")
        }
        assert(e.getMessage.contains("another writer"))
      }
      assert(Manifest.snapshot(spark, root).version == 2)
      assert(live() == before)
      val viaIndex = Decontamination
        .decontamIndexReport(spark, root, cands, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
      val direct = Decontamination
        .report(cands, bench, "doc_id", "text", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
      assert(viaIndex == direct)
      assert(viaIndex.exists { case (id, _, c) => id == 2L && c })
      // the width rides the metadata — the probe cannot be run at a
      // silently different n
      assert(Decontamination.decontamIndexN(spark, root) == 3)
      // the health row: stored-set size, pinned width, distinctness
      // invariant (total == distinct — the anti-join is doing its job),
      // and a plan call over it answers `none` (no rule applies to a
      // broadcast-class fragment-free index)
      val h = Decontamination.decontamIndexHealth(spark, root).head()
      assert(h.getAs[Int]("shingle_n") == 3)
      assert(h.getAs[Long]("total_rows") == before)
      assert(h.getAs[Long]("distinct_shingles") == before)
      assert(Similarity.indexMaintenancePlan(
        Decontamination.decontamIndexHealth(spark, root),
        recallFloor = 0.9, maxFilesPerListCeiling = 10,
        maxFragmentsCeiling = 1000, driftRatioFloor = 0.5,
        hotClustersCeiling = 0L)
        .head().getAs[String]("action") == "none")
    }
  }

  test("topTfIdfTerms ranks by (tf desc, df asc, term asc)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "banana banana cherry"),
      (3L, "cherry date")).toDF("doc_id", "text")
    val out = TextRanking.topTfIdfTerms(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank")
      .select("doc_id", "rank", "term", "tf", "df")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    // doc1: apple tf=2 (df=1); then banana/cherry tf=1 — banana df=2 < cherry df=3
    assert(out.take(2).toSeq == Seq((1L, 1, "apple", 2L, 1L),
      (1L, 2, "banana", 1L, 2L)))
    // doc3: tie tf=1 — cherry df=3 > date df=1, so date first
    assert(out.drop(4).toSeq == Seq((3L, 1, "date", 1L, 1L),
      (3L, 2, "cherry", 1L, 3L)))
  }

  test("bigramLmScore matches the hand-computed smoothed LM") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x"))
      .toDF("doc_id", "text")
    // corpus bigrams: doc1: (a b),(b a),(a b); doc2: (a b),(b c)
    // C(a b)=3, C(b a)=1, C(b c)=1; prefix counts: C(a ·)=3, C(b ·)=2
    // vocab = {a,b,c,x} → V=4
    val pAB = (3 + 1.0) / (3 + 4)
    val pBA = (1 + 1.0) / (2 + 4)
    val pBC = (1 + 1.0) / (2 + 4)
    def nlp(p: Double) =
      BigDecimal(-math.log(p)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def score(xs: Seq[BigDecimal]): Double =
      BigDecimal(xs.sum.toDouble / xs.size + 1e-9)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = TextRanking.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out(1L)._1 == 3L)
    assert(math.abs(out(1L)._2 -
      score(Seq(nlp(pAB), nlp(pBA), nlp(pAB)))) < 1e-12)
    assert(out(2L)._1 == 2L)
    assert(math.abs(out(2L)._2 - score(Seq(nlp(pAB), nlp(pBC)))) < 1e-12)
    // doc with <2 tokens: zero bigrams, score 0
    assert(out(3L) == (0L, 0.0))
  }

  test("duplicatePassages: shared shingles counted, short docs score 0") {
    import spark.implicits._
    val docs = Seq(
      1L -> "alpha beta gamma delta epsilon", // shares "alpha beta gamma" with 2
      2L -> "alpha beta gamma zeta eta",
      3L -> "one two three four five", // no overlap
      4L -> "tiny doc" // < 3 tokens → no shingles
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatePassages(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // docs 1 and 2: 3 distinct shingles each, exactly one shared
    assert(got(1L) == ((3L, 1L, math.rint((1.0 / 3 + 1e-9) * 1e6) / 1e6)),
      s"got ${got(1L)}")
    assert(got(2L)._2 == 1L)
    assert(got(3L) == ((3L, 0L, 0.0)))
    assert(got(4L) == ((0L, 0L, 0.0)))
  }

  test("incremental minhash pairs delta against base only, never within a side") {
    import spark.implicits._
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base = Seq(
      (1L, txt),                                  // near-dup target
      (2L, txt),                                  // base-internal dup of 1
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, txt + " lambda"),                     // near-dup of 1 and 2
      (11L, "cold warm hot mild cool damp dry wet calm windy"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalMinhashLsh(delta, base, "doc_id", "text",
      threshold = 0.5)
      .select("delta_id", "base_id").as[(Long, Long)].collect().toSet
    // 10 pairs with both base copies; the base-internal (1,2) dup and
    // delta-only doc 11 produce nothing
    assert(got == Set((10L, 1L), (10L, 2L)))
    val gotP = Dedup.incrementalMinhashLsh(delta.repartition(7),
      base.repartition(5), "doc_id", "text", threshold = 0.5)
      .select("delta_id", "base_id").as[(Long, Long)].collect().toSet
    assert(gotP == got)
  }

  test("persisted minhash index: append holds the writer lock, compact " +
    "folds fragments behind a manifest flip, probes are invariant") {
    import spark.implicits._
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base = Seq(
      (1L, txt), (2L, txt),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, txt + " lambda"),
      (11L, "cold warm hot mild cool damp dry wet calm windy"))
      .toDF("doc_id", "text")
    graft.util.TempDirs.using("mhidx") { case Seq(root) =>
      Dedup.minhashIndexBuild(base.filter(col("doc_id") === 1L), root,
        "doc_id", "text")
      Dedup.minhashIndexAppend(spark, root,
        base.filter(col("doc_id") > 1L), "doc_id", "text")
      def probe() = Dedup.minhashIndexProbe(spark, root, delta, base,
        "doc_id", "text", threshold = 0.5)
        .select("delta_id", "base_id").as[(Long, Long)].collect().toSet
      val direct = Dedup.incrementalMinhashLsh(delta, base, "doc_id",
        "text", threshold = 0.5)
        .select("delta_id", "base_id").as[(Long, Long)].collect().toSet
      assert(probe() == direct && direct == Set((10L, 1L), (10L, 2L)))
      // the writer lock is enforced: a colliding append throws BEFORE
      // dropping any file (same row count after)
      def liveRows() = spark.read.parquet(
        Manifest.snapshot(spark, root).path("bands")).count()
      val rowsBefore = liveRows()
      Manifest.withLock(spark, root) {
        val e = intercept[IllegalStateException] {
          Dedup.minhashIndexAppend(spark, root, delta, "doc_id", "text")
        }
        assert(e.getMessage.contains("another writer"))
      }
      assert(liveRows() == rowsBefore)
      // appends accumulate file fragments; compaction folds them into
      // one coherent set behind a manifest flip — the probe result and
      // the banded rows are invariant, the version advances
      def health() = Dedup.minhashIndexHealth(spark, root).head()
      val fragsBefore = health().getAs[Long]("n_fragments")
      assert(fragsBefore >= 2L, s"expected append fragments: $fragsBefore")
      assert(Manifest.snapshot(spark, root).version == 0)
      Dedup.minhashIndexCompact(spark, root)
      assert(Manifest.snapshot(spark, root).version == 1)
      assert(health().getAs[Long]("n_fragments") <= fragsBefore)
      assert(liveRows() == rowsBefore)
      assert(probe() == direct)
      // appends keep working against the versioned table
      Dedup.minhashIndexAppend(spark, root,
        Seq((4L, "pack my box with five dozen liquor jugs"))
          .toDF("doc_id", "text"), "doc_id", "text")
      assert(liveRows() == rowsBefore + 2) // 2 bands per doc
      assert(probe() == direct)
    }
  }

  test("minhash probe fails loudly when the base text table does not " +
    "cover an indexed candidate") {
    import spark.implicits._
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((1L, txt),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val delta = Seq((10L, txt + " lambda")).toDF("doc_id", "text")
    graft.util.TempDirs.using("mhmiss") { case Seq(dir) =>
      Dedup.minhashIndexBuild(docs, dir, "doc_id", "text")
      // doc 1 is a candidate for delta 10, but the supplied text table
      // only covers doc 2 — silent under-reporting is not an option
      val e = intercept[Exception] {
        Dedup.minhashIndexProbe(spark, dir, delta,
          docs.filter(col("doc_id") === 2L), "doc_id", "text")
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: chain(t.getCause)
      assert(chain(e).exists(m =>
        m != null && m.contains("minhashIndexProbe")), chain(e))
    }
  }

  test("hot-bucket recovery loop: health flips hot_buckets 0 -> >0, the " +
    "plan says dedup_prepass, apply collapses the boilerplate, and the " +
    "probe recovers the silently-dropped pair") {
    import spark.implicits._
    val boiler = "all work and no play makes jack a dull boy"
    val clean = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "how vexingly quick daft zebras jump"))
      .toDF("doc_id", "text")
    val boilerplate = (20L until 28L).map(i => (i, boiler))
      .toDF("doc_id", "text")
    val corpus = clean.unionByName(boilerplate)
    // another copy of the boilerplate class — identical signature, so
    // the band match is structural, not hash-luck
    val delta = Seq((100L, boiler)).toDF("doc_id", "text")
    val cap = 4
    graft.util.TempDirs.using("mhhot") { case Seq(root) =>
      Dedup.minhashIndexBuild(clean, root, "doc_id", "text")
      def health() = Dedup.minhashIndexHealth(spark, root,
        hotBucketCap = cap)
      def plan() = Similarity.indexMaintenancePlan(health(),
        recallFloor = 0.9, maxFilesPerListCeiling = 10,
        maxFragmentsCeiling = 1000)
        .head().getAs[String]("action")
      assert(health().head().getAs[Long]("hot_buckets") == 0L)
      assert(plan() == "none")
      // the boilerplate batch lands: its bucket (8 members) breaches
      // the cap, the probe's guard silently drops it — recall decays
      Dedup.minhashIndexAppend(spark, root, boilerplate, "doc_id", "text")
      def probe() = Dedup.minhashIndexProbe(spark, root, delta, corpus,
        "doc_id", "text", threshold = 0.5, maxBucketSize = cap)
        .select("delta_id", "base_id").as[(Long, Long)].collect().toSet
      assert(probe().isEmpty, "hot bucket should be dropped pre-fix")
      assert(health().head().getAs[Long]("hot_buckets") > 0L)
      assert(plan() == "dedup_prepass")
      // apply: exact-dedup pre-pass + rebuild from the keepers, one
      // manifest flip — the boilerplate class collapses to min-id 20
      Dedup.minhashMaintenanceApply(spark, root, "dedup_prepass",
        Some(corpus), "doc_id", "text")
      assert(health().head().getAs[Long]("hot_buckets") == 0L)
      assert(plan() == "none")
      assert(probe() == Set((100L, 20L)),
        "the dropped near-dup pair must be recovered against the keeper")
      // dedup_prepass without the corpus cannot silently no-op
      intercept[IllegalArgumentException] {
        Dedup.minhashMaintenanceApply(spark, root, "dedup_prepass")
      }
    }
  }

  test("persisted exact-hash index: probe is append- and duplicate-" +
    "immune, compaction dedupes behind a flip, writer lock enforced") {
    import spark.implicits._
    val txt = "alpha beta gamma"
    val base = Seq((1L, txt), (2L, "one two three")).toDF("doc_id", "text")
    val delta = Seq((10L, txt), (11L, "brand new words"),
      (12L, "one two three")).toDF("doc_id", "text")
    graft.util.TempDirs.using("exidx") { case Seq(root) =>
      Dedup.exactIndexBuild(base.filter(col("doc_id") === 1L), root,
        "doc_id", "text")
      Dedup.exactIndexAppend(spark, root,
        base.filter(col("doc_id") === 2L), "doc_id", "text")
      // collect the raw Seq, not a Map: duplicate stored hashes must
      // not duplicate OUTPUT ROWS either (one row per delta doc — the
      // funnel-count contract), and a Map would mask extra rows
      def probe() = Dedup.exactIndexProbe(spark, root, delta, "doc_id",
        "text").as[(Long, Boolean)].collect().toSeq.sorted
      val want = Seq(10L -> true, 11L -> false, 12L -> true)
      assert(probe() == want)
      // re-appending the same batch stores duplicate hashes — verdicts
      // AND row count cannot change; health shows the gap
      Dedup.exactIndexAppend(spark, root, base, "doc_id", "text")
      assert(probe() == want)
      def health() = Dedup.exactIndexHealth(spark, root).head()
      val h0 = health()
      assert(h0.getAs[Long]("total_rows") == 4L)
      assert(h0.getAs[Long]("distinct_hashes") == 2L)
      assert(h0.getAs[Long]("n_fragments") >= 3L)
      // compaction dedupes and defragments behind one manifest flip
      Dedup.exactIndexCompact(spark, root)
      assert(Manifest.snapshot(spark, root).version == 1)
      val h1 = health()
      assert(h1.getAs[Long]("total_rows") == 2L)
      assert(h1.getAs[Long]("distinct_hashes") == 2L)
      assert(probe() == want)
      // the writer lock is enforced on the append
      Manifest.withLock(spark, root) {
        val e = intercept[IllegalStateException] {
          Dedup.exactIndexAppend(spark, root, delta, "doc_id", "text")
        }
        assert(e.getMessage.contains("another writer"))
      }
    }
  }

  test("streaming admission converges to the one-shot batch verdicts " +
    "under any micro-batch slicing") {
    import spark.implicits._
    val boiler = "alpha beta gamma delta epsilon zeta eta theta"
    val benchTxt = "secret eval question about sphinxes and quartz"
    val bench = Seq((100L, benchTxt)).toDF("doc_id", "text")
    val base = Seq((1L, boiler),
      (2L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, boiler),                      // exact dup of base
      (11L, boiler + " iota"),            // near-dup of base
      (12L, benchTxt + " padded a bit longer now"), // contaminated
      (13L, "tiny"),                      // under the token floor
      (14L, "completely fresh clean document with many words"))
      .toDF("doc_id", "text")
    graft.util.TempDirs.using("adm_ex_", "adm_mh_", "adm_dc_",
        "adm_st_") { dirs =>
      val Seq(exDir, mhDir, dcDir, stDir) = dirs
      Dedup.exactIndexBuild(base, exDir, "doc_id", "text")
      Dedup.minhashIndexBuild(base, mhDir, "doc_id", "text")
      Decontamination.decontamIndexBuild(bench, dcDir, "text", n = 3)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "n_tokens", "is_dup_exact", "is_neardup",
          "is_contaminated", "accepted")
          .as[(Long, Long, Boolean, Boolean, Boolean, Boolean)]
          .collect().toSet
      val oneShot = rows(CorpusPipeline.admitBatch(spark, batch, exDir,
        mhDir, dcDir, base, "doc_id", "text"))
      assert(oneShot.map(r => r._1 -> r._6).toMap ==
        Map(10L -> false, 11L -> false, 12L -> false, 13L -> false,
          14L -> true), oneShot.toString)
      // stream the same batch one file at a time: the accumulated sink
      // must equal the one-shot verdicts exactly
      batch.repartition(5).write.parquet(s"$stDir/files")
      val stream = spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$stDir/files")
      val q = CorpusPipeline.streamingAdmission(stream, exDir, mhDir,
        dcDir, base, s"$stDir/out", s"$stDir/ckpt")
      try q.processAllAvailable()
      finally q.stop()
      assert(rows(spark.read.parquet(s"$stDir/out")) == oneShot)
    }
  }

  test("probe hot-bucket guard caps the DELTA side too (fused " +
    "two-side guard): a delta whose own bucket breaches the cap " +
    "yields no pairs, while a clean delta doc still matches") {
    import spark.implicits._
    val boiler = "all work and no play makes jack a dull boy"
    val clean = "pack my box with five dozen liquor jugs"
    val base = Seq((1L, boiler), (2L, clean)).toDF("doc_id", "text")
    // six identical delta copies of the boilerplate: the DELTA side's
    // bucket breaches cap=4 (the index side holds only one copy, so an
    // index-side-only guard would keep the pairs); doc 200 is a clean
    // exact copy in an un-hot bucket and must still match
    val delta = ((100L to 105L).map(i => (i, boiler)) :+ (200L, clean))
      .toDF("doc_id", "text")
    graft.util.TempDirs.using("mhdhot") { case Seq(root) =>
      Dedup.minhashIndexBuild(base, root, "doc_id", "text")
      val mh = Dedup.minhashIndexProbe(spark, root, delta, base,
        "doc_id", "text", threshold = 0.5, maxBucketSize = 4)
        .select("delta_id", "base_id").as[(Long, Long)].collect().toSet
      assert(mh == Set((200L, 2L)), mh.toString)
    }
  }

  test("persisted simhash index: probe equals the direct run with no " +
    "base text table, append holds the writer lock, compact folds " +
    "fragments behind a manifest flip") {
    import spark.implicits._
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base = Seq(
      (1L, txt), (2L, txt),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, txt), // identical -> Hamming 0 against docs 1 and 2
      (11L, "cold warm hot mild cool damp dry wet calm windy"))
      .toDF("doc_id", "text")
    graft.util.TempDirs.using("shidx") { case Seq(root) =>
      Dedup.simhashIndexBuild(base.filter(col("doc_id") === 1L), root,
        "doc_id", "text")
      Dedup.simhashIndexAppend(spark, root,
        base.filter(col("doc_id") > 1L), "doc_id", "text")
      // NOTE: no text table crosses the probe boundary — verification
      // is Hamming on the STORED signatures
      def probe() = Dedup.simhashIndexProbe(spark, root, delta,
        "doc_id", "text", maxHamming = 16)
        .select("delta_id", "base_id").as[(Long, Long)].collect().toSet
      // the direct (non-persisted) run over base ∪ delta, restricted to
      // cross-side pairs, is the semantic contract
      val direct = Dedup.simhash(base.unionByName(delta), "doc_id",
        "text", maxHamming = 16)
        .filter(col("id_a") < 10L && col("id_b") >= 10L)
        .select(col("id_b"), col("id_a")).as[(Long, Long)].collect().toSet
      assert(probe() == direct && direct.contains((10L, 1L)))
      // writer lock enforced: a colliding append throws BEFORE any drop
      def liveRows() = spark.read.parquet(
        Manifest.snapshot(spark, root).path("sigs")).count()
      val rowsBefore = liveRows()
      Manifest.withLock(spark, root) {
        val e = intercept[IllegalStateException] {
          Dedup.simhashIndexAppend(spark, root, delta, "doc_id", "text")
        }
        assert(e.getMessage.contains("another writer"))
      }
      assert(liveRows() == rowsBefore)
      // fragments fold behind one manifest flip; probe invariant
      def health() = Dedup.simhashIndexHealth(spark, root).head()
      val fragsBefore = health().getAs[Long]("n_fragments")
      assert(fragsBefore >= 2L, s"expected append fragments: $fragsBefore")
      assert(Manifest.snapshot(spark, root).version == 0)
      Dedup.simhashIndexCompact(spark, root)
      assert(Manifest.snapshot(spark, root).version == 1)
      assert(health().getAs[Long]("n_fragments") <= fragsBefore)
      assert(liveRows() == rowsBefore)
      assert(probe() == direct)
      // appends keep working against the versioned table (one sig row)
      Dedup.simhashIndexAppend(spark, root,
        Seq((4L, "pack my box with five dozen liquor jugs"))
          .toDF("doc_id", "text"), "doc_id", "text")
      assert(liveRows() == rowsBefore + 1)
      assert(probe() == direct)
    }
  }

  test("simhash index health: boilerplate flips hot_buckets and the " +
    "cross-family plan answers dedup_prepass") {
    import spark.implicits._
    val boiler = "all work and no play makes jack a dull boy"
    val clean = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val boilerplate = (20L until 28L).map(i => (i, boiler))
      .toDF("doc_id", "text")
    val cap = 4
    graft.util.TempDirs.using("shhot") { case Seq(root) =>
      Dedup.simhashIndexBuild(clean, root, "doc_id", "text")
      def health() = Dedup.simhashIndexHealth(spark, root,
        hotBucketCap = cap)
      def plan() = Similarity.indexMaintenancePlan(health(),
        recallFloor = 0.9, maxFilesPerListCeiling = 10,
        maxFragmentsCeiling = 1000)
        .head().getAs[String]("action")
      val h0 = health().head()
      assert(h0.getAs[Long]("total_rows") == 2L)
      assert(h0.getAs[Long]("hot_buckets") == 0L)
      assert(plan() == "none")
      // 8 identical docs: one signature, all 4 bands breach the cap —
      // the probe guard now silently drops that boilerplate class
      Dedup.simhashIndexAppend(spark, root, boilerplate, "doc_id",
        "text")
      val h1 = health().head()
      assert(h1.getAs[Long]("hot_buckets") >= 4L)
      assert(h1.getAs[Long]("max_bucket") >= 8L)
      assert(plan() == "dedup_prepass")
      def probe() = Dedup.simhashIndexProbe(spark, root,
        Seq((100L, boiler)).toDF("doc_id", "text"), "doc_id", "text",
        maxHamming = 3, maxBucketSize = cap)
        .select("delta_id", "base_id").as[(Long, Long)].collect().toSet
      assert(probe().isEmpty, "hot bucket should be dropped pre-fix")
      // apply: exact-dedup pre-pass + signature rebuild from keepers,
      // one manifest flip — the boilerplate class collapses to min-id
      // 20 and the silently-dropped pair is recovered against it
      val corpus = clean.unionByName(boilerplate)
      Dedup.simhashMaintenanceApply(spark, root, "dedup_prepass",
        Some(corpus), "doc_id", "text")
      assert(health().head().getAs[Long]("hot_buckets") == 0L)
      assert(plan() == "none")
      assert(probe() == Set((100L, 20L)),
        "the dropped near-dup pair must be recovered against the keeper")
      // dedup_prepass without the corpus cannot silently no-op
      intercept[IllegalArgumentException] {
        Dedup.simhashMaintenanceApply(spark, root, "dedup_prepass")
      }
    }
  }

  test("passage rewrite keeps first occurrence globally and within doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x. y. z"), // all first occurrences
      (2L, "y. w"),    // y already seen in doc 1
      (3L, "x"),       // fully duplicated -> empty rewrite
      (4L, "q. q")     // within-doc repeat keeps the first instance
    ).toDF("doc_id", "text")
    val byId = Dedup.dropRepeatedPassages(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(byId(1L) == ((3L, 3L, "x. y. z")))
    assert(byId(2L) == ((2L, 1L, "w")))
    assert(byId(3L) == ((1L, 0L, "")))
    assert(byId(4L) == ((2L, 1L, "q")))
    // partition-invariant
    val shuffled = Dedup.dropRepeatedPassages(
      docs.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(shuffled == byId)
  }

  test("replayed ingest batches: health flags the duplicate rows and " +
    "compaction folds them (MinHash + SimHash)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text").repartition(1)
    val batch = Seq(
      (10L, "how vexingly quick daft zebras jump today"))
      .toDF("doc_id", "text").repartition(1)
    graft.util.TempDirs.using("mhreplay", "shreplay") { dirs =>
      val Seq(mhDir, shDir) = dirs
      Dedup.minhashIndexBuild(docs, mhDir, "doc_id", "text")
      Dedup.simhashIndexBuild(docs, shDir, "doc_id", "text")
      // an at-least-once retry: the SAME committed batch appends twice
      Dedup.minhashIndexAppend(spark, mhDir, batch, "doc_id", "text")
      Dedup.minhashIndexAppend(spark, mhDir, batch, "doc_id", "text")
      Dedup.simhashIndexAppend(spark, shDir, batch, "doc_id", "text")
      Dedup.simhashIndexAppend(spark, shDir, batch, "doc_id", "text")
      def mh() = Dedup.minhashIndexHealth(spark, mhDir).head()
      def sh() = Dedup.simhashIndexHealth(spark, shDir).head()
      // 3 docs × 2 bands = 6 distinct banded rows; the replay adds 2
      val m0 = mh()
      assert(m0.getAs[Long]("total_rows") == 8L)
      assert(m0.getAs[Long]("distinct_rows") == 6L)
      val s0 = sh()
      assert(s0.getAs[Long]("total_rows") == 4L)
      assert(s0.getAs[Long]("distinct_rows") == 3L)
      // compaction folds the replay debt (and the re-plan cannot see a
      // duplicate-inflated max_bucket any more)
      Dedup.minhashIndexCompact(spark, mhDir)
      Dedup.simhashIndexCompact(spark, shDir)
      val m1 = mh()
      assert(m1.getAs[Long]("total_rows") == 6L)
      assert(m1.getAs[Long]("distinct_rows") == 6L)
      assert(m1.getAs[Long]("max_bucket") == 1L)
      val s1 = sh()
      assert(s1.getAs[Long]("total_rows") == 3L)
      assert(s1.getAs[Long]("distinct_rows") == 3L)
      // probes still verify the same values after the fold
      val pairs = Dedup.simhashIndexProbe(spark, shDir,
        batch, "doc_id", "text", maxHamming = 0)
        .select("delta_id", "base_id").as[(Long, Long)].collect().toSet
      assert(pairs == Set((10L, 10L)))
    }
  }

  test("fleetIngestReconcile detects a crash between a multi-family " +
    "admission's appends and the repair re-append converges") {
    import spark.implicits._
    val base = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text").repartition(1)
    val b1 = Seq((10L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text").repartition(1)
    val b2 = Seq((20L, "how vexingly quick daft zebras jump"))
      .toDF("doc_id", "text").repartition(1)
    graft.util.TempDirs.using("rec_ex_", "rec_mh_") { dirs =>
      val Seq(exDir, mhDir) = dirs
      Dedup.exactIndexBuild(base, exDir, "doc_id", "text")
      Dedup.minhashIndexBuild(base, mhDir, "doc_id", "text")
      val fams = Map("exact" -> exDir, "minhash" -> mhDir)
      def gaps() = CorpusPipeline.fleetIngestReconcile(spark, fams)
        .select("batch_id", "family", "action")
        .as[(String, String, String)].collect().toSet
      // a consistent fleet (no batches yet) reconciles clean
      assert(gaps().isEmpty)
      // day-1 lands in both families
      Dedup.exactIndexAppend(spark, exDir, b1, "doc_id", "text",
        batchId = Some("b1"))
      Dedup.minhashIndexAppend(spark, mhDir, b1, "doc_id", "text",
        batchId = Some("b1"))
      assert(gaps().isEmpty)
      // day-2 crashes between the exact append and the minhash append
      Dedup.exactIndexAppend(spark, exDir, b2, "doc_id", "text",
        batchId = Some("b2"))
      assert(gaps() == Set(("b2", "minhash", "re_append")))
      // an unsupplied batch is reported, never thrown — and repairs
      // nothing
      val skipped = CorpusPipeline.fleetIngestRepair(spark,
        CorpusPipeline.fleetIngestReconcile(spark, fams),
        Map.empty, "doc_id", "text")
        .select("status").as[String].collect().toSeq
      assert(skipped == Seq("skipped"))
      assert(gaps() == Set(("b2", "minhash", "re_append")))
      // repair: the MECHANICAL apply half executes the reconcile's
      // rows from the supplied batch — converges
      val rep = CorpusPipeline.fleetIngestRepair(spark,
        CorpusPipeline.fleetIngestReconcile(spark, fams),
        Map("b2" -> b2), "doc_id", "text")
        .select("batch_id", "family", "status")
        .as[(String, String, String)].collect().toSet
      assert(rep == Set(("b2", "minhash", "executed")))
      assert(gaps().isEmpty)
      // idempotent: a clean fleet yields an empty repair report
      assert(CorpusPipeline.fleetIngestRepair(spark,
        CorpusPipeline.fleetIngestReconcile(spark, fams),
        Map("b2" -> b2), "doc_id", "text").count() == 0L)
      // the repaired index actually carries the batch: day-3 copy of
      // the b2 doc is reported as a near-dup
      val probed = Dedup.minhashIndexProbe(spark, mhDir,
        Seq((30L, "how vexingly quick daft zebras jump"))
          .toDF("doc_id", "text"),
        base.unionByName(b1).unionByName(b2), "doc_id", "text",
        threshold = 0.5)
        .select("delta_id", "base_id").as[(Long, Long)].collect().toSet
      assert(probed == Set((30L, 20L)))
      // a legacy append (no batchId) records nothing and cannot be
      // flagged as divergence
      Dedup.exactIndexAppend(spark, exDir, b2, "doc_id", "text")
      assert(gaps().isEmpty)
      // the fleet table surfaces the logged-batch counts: a family
      // whose count trails its siblings is the divergence smell the
      // reconcile pins down
      assert(Dedup.exactIndexHealth(spark, exDir)
        .head().getAs[Long]("ingest_batches") == 2L)
      assert(Dedup.minhashIndexHealth(spark, mhDir)
        .head().getAs[Long]("ingest_batches") == 2L)
    }
  }

  test("crash between an append's data files and its log row: the " +
    "batch is flagged missing, the repair re-append double-lands rows " +
    "and the next compaction folds them") {
    import spark.implicits._
    val base = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text").repartition(1)
    val b1 = Seq((10L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text").repartition(1)
    graft.util.TempDirs.using("cw_ex_", "cw_mh_") { dirs =>
      val Seq(exDir, mhDir) = dirs
      Dedup.exactIndexBuild(base, exDir, "doc_id", "text")
      Dedup.minhashIndexBuild(base, mhDir, "doc_id", "text")
      // exact lands b1 fully; the minhash append "crashes" AFTER its
      // data write, BEFORE its log row — simulated by the logless
      // append (byte-identical post-crash state: data present, no log)
      Dedup.exactIndexAppend(spark, exDir, b1, "doc_id", "text",
        batchId = Some("b1"))
      Dedup.minhashIndexAppend(spark, mhDir, b1, "doc_id", "text")
      // the write order guarantees this is the ONLY window: the batch
      // reads as missing (conservative — repair may duplicate work,
      // never lose it)
      val fams = Map("exact" -> exDir, "minhash" -> mhDir)
      def gaps() = CorpusPipeline.fleetIngestReconcile(spark, fams)
        .select("batch_id", "family").as[(String, String)]
        .collect().toSet
      assert(gaps() == Set(("b1", "minhash")))
      // repair: re-append — rows double-land by design
      Dedup.minhashIndexAppend(spark, mhDir, b1, "doc_id", "text",
        batchId = Some("b1"))
      assert(gaps().isEmpty)
      val h0 = Dedup.minhashIndexHealth(spark, mhDir).head()
      assert(h0.getAs[Long]("total_rows") >
        h0.getAs[Long]("distinct_rows"),
        "the repair's duplicate rows must be visible as replay debt")
      // the family's own dedupe point folds the repair's duplicates
      Dedup.minhashIndexCompact(spark, mhDir)
      val h1 = Dedup.minhashIndexHealth(spark, mhDir).head()
      assert(h1.getAs[Long]("total_rows") ==
        h1.getAs[Long]("distinct_rows"))
      // and the probe still reports the batch's doc exactly once
      val probed = Dedup.minhashIndexProbe(spark, mhDir,
        Seq((30L, "pack my box with five dozen liquor jugs"))
          .toDF("doc_id", "text"),
        base.unionByName(b1), "doc_id", "text", threshold = 0.5)
        .select("delta_id", "base_id").as[(Long, Long)].collect().toSeq
      assert(probed == Seq((30L, 10L)))
    }
  }

  test("souringSources: trailing window is bounded and self-relative, " +
    "minRate suppresses noise flags") {
    import spark.implicits._
    graft.util.TempDirs.using("funhist") { case Seq(root) =>
      // four days of one source: steady 10% near-dup, then a 40% jump
      val d4 = "2024-01-04"
      Seq(("2024-01-01", 1L), ("2024-01-02", 1L), ("2024-01-03", 1L),
        (d4, 4L)).foreach {
        case (day, ndup) =>
          CorpusPipeline.admissionFunnelAppend(spark, root, day,
            Seq(("x", 10L, ndup)).toDF("source", "n_docs", "n_neardup"))
      }
      def flags(window: Int, ceiling: Double, minRate: Double = 0.0) =
        CorpusPipeline.souringSources(spark, root, window = window,
          ratioCeiling = ceiling, minRate = minRate)
          .filter(col("souring")).select("day").as[String]
          .collect().toSet
      // 0.4 > 2 x trailing(0.1) -> day 4 fires; steady days never do
      assert(flags(3, 2.0) == Set(d4))
      // a window of 1 calendar day sees only day 3 (rate .1) -> fires
      assert(flags(1, 2.0) == Set(d4))
      // the jump is self-relative: a ceiling above the 4x ratio is quiet
      assert(flags(3, 5.0) == Set.empty[String])
      // minRate above the jump's absolute rate suppresses it
      assert(flags(3, 2.0, minRate = 0.5) == Set.empty[String])
      // trailing means come from the PERSISTED history across appends
      val last = CorpusPipeline.souringSources(spark, root, window = 3)
        .filter(col("day") === d4).head()
      assert(math.abs(last.getAs[Double]("trailing_rate") - 0.1) < 1e-12)
      assert(math.abs(last.getAs[Double]("rate") - 0.4) < 1e-12)
      // a non-date day label fails loudly, never silently no-alerts
      CorpusPipeline.admissionFunnelAppend(spark, root, "not-a-day",
        Seq(("x", 10L, 0L)).toDF("source", "n_docs", "n_neardup"))
      assertThrows[Exception] {
        CorpusPipeline.souringSources(spark, root, window = 3).collect()
      }
    }
  }
}
