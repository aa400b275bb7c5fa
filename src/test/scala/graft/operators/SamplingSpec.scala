package graft.operators

import graft.SparkSpec
import graft.functions.AggFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The bounded-heap (map-side) sampling/top-k paths must select exactly
  * the rows the window-sort formulations they replaced selected.
  */
class SamplingSpec extends SparkSpec {

  test("collectTopK smallest returns the k smallest values ascending") {
    import spark.implicits._
    val df = Seq(5, 3, 9, 1, 7, 2, 8).toDF("x").repartition(3)
    val out = df.agg(AggFunctions.collectTopK(col("x"), 3, smallest = true))
      .first().getSeq[Int](0)
    assert(out == Seq(1, 2, 3))
    val top = df.agg(AggFunctions.collectTopK(col("x"), 2, smallest = false))
      .first().getSeq[Int](0)
    assert(top.toSet == Set(8, 9))
  }

  test("boundedSample matches the window row_number formulation") {
    import spark.implicits._
    val df = (1 to 500).map(i => (s"g${i % 7}", i.toLong, i * 0.5))
      .toDF("g", "uid", "weight").repartition(8)
    val cap = 20

    val got = GroupedSampling.boundedSample(df, Seq("g"), Seq("uid"), cap)

    val w = Window.partitionBy(col("g"))
      .orderBy(GroupedSampling.priority(Seq(col("uid"))))
    val wAll = Window.partitionBy(col("g"))
    val want = df.withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wAll))
      .filter(col("_rn") <= cap)
      .withColumn("weight_scale",
        when(col("_n") > cap, col("_n").cast("double") / cap)
          .otherwise(lit(1.0)))
      .drop("_rn", "_n")

    val g = got.select("g", "uid", "weight_scale").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val e = want.select("g", "uid", "weight_scale").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(g == e)
    assert(got.count() == 7L * cap)
  }

  test("boundedSample keeps whole groups under the cap, scale 1.0") {
    import spark.implicits._
    val df = (1 to 10).map(i => ("only", i.toLong)).toDF("g", "uid")
    val out = GroupedSampling.boundedSample(df, Seq("g"), Seq("uid"), 50)
    assert(out.count() == 10)
    assert(out.select("weight_scale").distinct().first().getDouble(0) == 1.0)
  }

  test("boundedSample is exact-cap under duplicate uids (content key)") {
    import spark.implicits._
    // every uid appears twice with different payloads: a priority-only
    // threshold would over-admit at every boundary; the content-hash
    // disambiguator must keep exactly cap rows per group
    val df = (1 to 200).flatMap(i =>
      Seq((s"g${i % 5}", (i % 20).toLong, i * 1.0),
        (s"g${i % 5}", (i % 20).toLong, i * 2.0)))
      .toDF("g", "uid", "payload").repartition(8)
    val out = GroupedSampling.boundedSample(df, Seq("g"), Seq("uid"), 7)
    val counts = out.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ == 7L), s"got $counts")
    // deterministic: same selection on a different partitioning
    val again = GroupedSampling.boundedSample(df.repartition(3),
      Seq("g"), Seq("uid"), 7)
    assert(out.select("g", "uid", "payload").collect().toSet ==
      again.select("g", "uid", "payload").collect().toSet)
  }

  test("boundedSample works over vector columns (the activeCap shape)") {
    import spark.implicits._
    // CoordinateDescent's activeCap path feeds frames carrying VectorUDT
    // features through boundedSample — the content-hash key must accept
    // them (UDTs hash via their sql type)
    val df = (1 to 40).map(i => (s"e${i % 3}", i.toLong,
      org.apache.spark.ml.linalg.Vectors.dense(i * 0.5, -i * 0.25)))
      .toDF("g", "uid", "features")
    val out = GroupedSampling.boundedSample(df, Seq("g"), Seq("uid"), 5)
    assert(out.groupBy("g").count().collect().forall(_.getLong(1) == 5L))
  }

  test("int8 quantization round-trips within scale/2 per element") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong,
      Array.tabulate(8)(j => (math.sin(i * (j + 1)) * 3).toFloat)))
      .toDF("vec_id", "embedding")
    val deq = Similarity.dequantize(
      Similarity.quantizeInt8(df, "embedding"), "codes", "scale")
    val rows = deq.select("embedding", "embedding_deq", "scale").collect()
    rows.foreach { r =>
      val orig = r.getSeq[Float](0)
      val back = r.getSeq[Float](1)
      val scale = r.getDouble(2)
      orig.zip(back).foreach { case (a, b) =>
        assert(math.abs(a - b) <= scale / 2 + 1e-6,
          s"$a vs $b at scale $scale")
      }
    }
    // codes stay in the int8 range
    val outOfRange = Similarity.quantizeInt8(df, "embedding")
      .select(explode(col("codes")).as("c"))
      .filter(abs(col("c")) > 127).count()
    assert(outOfRange == 0L)
  }

  test("Similarity topK ranking matches a window row_number") {
    import spark.implicits._
    val corpus = (1 to 60)
      .map(i => (i.toLong, Array.tabulate(4)(j => math.sin(i * (j + 1)))))
      .toDF("id", "v")
    val queries = (1 to 3)
      .map(i => (i.toLong, Array.tabulate(4)(j => math.cos(i + j))))
      .toDF("qid", "qv")
    val got = Similarity.bruteForce(queries, corpus, 5)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val scored = corpus.join(broadcast(queries))
      .select(col("qid"), col("id"),
        graft.functions.VectorOps.cosine(col("qv"), col("v")).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id"))
    val want = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want)
  }

  test("hardNegatives equals bruteForce on survivors, never emits a positive") {
    import spark.implicits._
    val corpus = (1 to 60)
      .map(i => (i.toLong, Array.tabulate(4)(j => math.sin(i * (j + 1)))))
      .toDF("id", "v")
    val queries = (1 to 3)
      .map(i => (i.toLong, Array.tabulate(4)(j => math.cos(i + j))))
      .toDF("qid", "qv")
    // each query's positives: ids congruent to it mod 3
    val positives = (1 to 60).flatMap { i =>
      val q = (i % 3) + 1L
      if (q <= 3) Some((q, i.toLong)) else None
    }.toDF("qid", "id")
    val got = Similarity.hardNegatives(queries, corpus, positives, 5)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.forall { case (q, i, _) => (i % 3) + 1 != q },
      "a positive leaked into the negatives")
    // equivalent to brute force over the pre-filtered corpus, per query
    val want = (1L to 3L).flatMap { q =>
      val filtered = corpus.filter((col("id") % 3) + 1 =!= q)
      Similarity.bruteForce(queries.filter(col("qid") === q), filtered, 5)
        .select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    }.toSet
    assert(got == want)
  }

  test("weightedSample matches the window formulation and favors weight") {
    import spark.implicits._
    // two weight classes: heavy rows (w=50) vs light (w=1)
    val df = (1 to 400).map(i =>
      (s"g${i % 2}", i.toLong, if (i % 4 == 0) 50.0 else 1.0))
      .toDF("g", "uid", "w").repartition(8)

    val got = GroupedSampling.weightedSample(df, Seq("g"), Seq("uid"),
      "w", cap = 10)

    // independent formulation: full window sort on the same A-ES key
    val u = DownSampling.hashFraction(Seq(col("uid")))
    val key = pow(u, lit(1.0) / col("w"))
    val w10 = Window.partitionBy("g")
      .orderBy(key.desc, GroupedSampling.priority(Seq(col("uid"))))
    val want = df.withColumn("_rn", row_number().over(w10))
      .filter(col("_rn") <= 10).drop("_rn")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // with 25% heavy rows at 50x weight, the sample should be mostly heavy
    val heavy = got.filter(col("w") === 50.0).count()
    assert(heavy >= 10, s"only $heavy of 20 sampled rows were heavy")
    // deterministic under repartitioning
    val again = GroupedSampling.weightedSample(df.repartition(3),
      Seq("g"), Seq("uid"), "w", cap = 10)
    assert(got.exceptAll(again).isEmpty && again.exceptAll(got).isEmpty)
  }

  test("LSH ANN recall vs brute force is reasonable on real embeddings") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val corpus = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Smoke floor, not a quality gate (15 query-neighbor pairs is too few
    // for tight statistics; the exact bucket math faces the q41 SQL
    // oracle). Catches gross breakage: empty candidate sets, mismatched
    // bucket keyspaces between query and corpus sides, dead probes.
    val bf = pairs(Similarity.bruteForce(queries, corpus, 3))
    val ann = pairs(Similarity.lsh(queries, corpus, 3, nBits = 3, nProbe = 3))
    val recall = (bf intersect ann).size.toDouble / bf.size
    assert(recall >= 0.4, s"recall=$recall (bf=${bf.size} ann=${ann.size})")
  }

  test("IVF ANN returns k results per query with decent recall") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val corpus = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.bruteForce(queries, corpus, 3))
    val ivf = Similarity.ivf(queries, corpus, 3, nList = 4, nProbe = 2)
    val got = ivf.collect()
    assert(got.length == 15) // 5 queries x k=3
    assert(got.forall(_.getInt(3) <= 3)) // ranks within k
    val recall = (bf intersect pairs(ivf)).size.toDouble / bf.size
    // probing half the lists: recall must beat random half-coverage floor
    assert(recall >= 0.4, s"recall=$recall")
  }

  test("persisted IVF index round-trips: probe-all equals brute force") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val corpus = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toFile
    try {
      Similarity.ivfBuild(corpus, dir.getAbsolutePath, nList = 4,
        kmeansMaxIter = 2)
      // index layout: bounded centroid table, postings partitioned by list
      val cents = spark.read
        .parquet(dir.getAbsolutePath + "/centroids.parquet")
      assert(cents.count() == 4)
      assert(new java.io.File(dir, "postings.parquet").listFiles()
        .count(_.getName.startsWith("list=")) > 1,
        "postings must be partitioned by inverted list")
      // probe-all through the FILES equals exact brute force
      val full = pairs(Similarity.ivfQuery(spark, dir.getAbsolutePath,
        queries, k = 3, nProbe = 4))
      assert(full == pairs(Similarity.bruteForce(queries, corpus, 3)))
      // a partial probe still returns k rows per query
      val partial = Similarity.ivfQuery(spark, dir.getAbsolutePath,
        queries, k = 3, nProbe = 2)
      assert(partial.collect().length == 15)
      // and the postings scan is STATICALLY pruned to the probed
      // lists: the plan carries a literal partition filter, so
      // unprobed directories never leave storage
      val plan = partial.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        "PartitionFilters: \\[[^\\]]*list".r.findFirstIn(plan).isDefined,
        s"expected a list partition filter in:\n$plan")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfAppend grows the index without refit; probe-all stays exact") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val corpus = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mid = corpus.agg(
      percentile_approx(col("id"), lit(0.5), lit(10000))).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("ivfapp").toFile
    try {
      Similarity.ivfBuild(corpus.filter(col("id") <= mid),
        dir.getAbsolutePath, nList = 4, kmeansMaxIter = 2)
      val centsBefore = spark.read
        .parquet(dir.getAbsolutePath + "/centroids.parquet").collect()
        .map(_.toString).sorted.toSeq
      val filesBefore = spark.read
        .parquet(dir.getAbsolutePath + "/postings.parquet")
        .inputFiles.toSet
      Similarity.ivfAppend(spark, dir.getAbsolutePath,
        corpus.filter(col("id") > mid))
      // append = new files only: every pre-append posting file survives
      // untouched and the centroids are bit-identical (no refit)
      val filesAfter = spark.read
        .parquet(dir.getAbsolutePath + "/postings.parquet")
        .inputFiles.toSet
      assert(filesBefore.subsetOf(filesAfter) &&
        filesAfter.size > filesBefore.size)
      assert(spark.read
        .parquet(dir.getAbsolutePath + "/centroids.parquet").collect()
        .map(_.toString).sorted.toSeq == centsBefore)
      // probe-all over the grown index == brute force over EVERYTHING
      val full = pairs(Similarity.ivfQuery(spark, dir.getAbsolutePath,
        queries, k = 3, nProbe = 4))
      assert(full == pairs(Similarity.bruteForce(queries, corpus, 3)))
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfAppend coerces a double-typed batch to the index's float schema") {
    import spark.implicits._
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") >= 5).limit(50)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val dim = corpus.select(size(col("v"))).head().getInt(0)
    val dir = java.nio.file.Files.createTempDirectory("ivfcoerce").toFile
    try {
      Similarity.ivfBuild(corpus, dir.getAbsolutePath, nList = 2,
        kmeansMaxIter = 1)
      // the delta arrives as array<double> + int id — a different but
      // castable shape; the append must write the index's own types
      val delta = Seq((1000000, Array.tabulate(dim)(_ * 0.25)))
        .toDF("id", "v")
      Similarity.ivfAppend(spark, dir.getAbsolutePath, delta)
      val postings = spark.read
        .parquet(dir.getAbsolutePath + "/postings.parquet")
      assert(postings.schema("v").dataType ==
        corpus.schema("v").dataType)
      assert(postings.filter(col("id") === 1000000L).count() == 1)
      // and the grown index still probes cleanly through the files
      val queries = emb.filter(col("vec_id") < 2)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      assert(Similarity.ivfQuery(spark, dir.getAbsolutePath, queries,
        k = 3, nProbe = 2).count() == 6)
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfAppend rejects a batch whose id type would narrow") {
    import spark.implicits._
    val dim = 4
    val corpus = (1 to 20).map(i =>
      (i, Array.tabulate(dim)(j => (i * (j + 1)).toFloat)))
      .toDF("id", "v") // INT ids → int-id index
    val dir = java.nio.file.Files.createTempDirectory("ivfnarrow").toFile
    try {
      Similarity.ivfBuild(corpus, dir.getAbsolutePath, nList = 2,
        kmeansMaxIter = 1)
      // a LONG-id batch must be refused, not silently wrapped
      val delta = Seq((Int.MaxValue.toLong + 7L,
        Array.tabulate(dim)(_ * 0.5))).toDF("id", "v")
      val e = intercept[IllegalArgumentException] {
        Similarity.ivfAppend(spark, dir.getAbsolutePath, delta)
      }
      assert(e.getMessage.contains("does not widen"))
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("IVF builds fit exactly nList lists even on fewer distinct " +
    "vectors, and fail fast on an empty corpus") {
    import spark.implicits._
    // 3 distinct vectors, each twice, under nList = 8
    val corpus = (0 until 6).map(i =>
      (i.toLong, Array.tabulate(4)(j => if (j == i % 3) 1.0f else 0.0f)))
      .toDF("id", "v")
    graft.util.TempDirs.using("ivfpad", "ivfpqpad") { dirs =>
      Similarity.ivfBuild(corpus, dirs(0), nList = 8, kmeansMaxIter = 5)
      Similarity.ivfPqBuild(corpus, dirs(1), nList = 8, m = 2, nCodes = 4,
        kmeansMaxIter = 5)
      dirs.foreach { dir =>
        assert(spark.read.parquet(s"$dir/centroids.parquet").count() == 8)
        assert(Similarity.ivfIndexHealthLight(spark, dir).head()
          .getAs[Int]("n_lists") == 8)
      }
      val empty = corpus.filter(lit(false))
      val e1 = intercept[IllegalArgumentException] {
        Similarity.ivfBuild(empty, dirs(0), nList = 8)
      }
      assert(e1.getMessage.contains("ivfBuild: no vectors to fit nList=8"),
        e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        Similarity.ivfPqBuild(empty, dirs(1), nList = 8, m = 2, nCodes = 4)
      }
      assert(e2.getMessage.contains("ivfPqBuild: no vectors to fit nList=8"),
        e2.getMessage)
    }
  }

  test("a vector lands in the same list whether built in or appended") {
    val (_, corpus) = annFixture()
    val again = corpus.select((col("id") + 1000000L).as("id"), col("v"))
    def lists(table: String, dir: String): Map[Long, Int] =
      spark.read.parquet(s"$dir/$table.parquet").select("id", "list")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    graft.util.TempDirs.using("ivfsame", "ivfpqsame") { dirs =>
      Similarity.ivfBuild(corpus, dirs(0), nList = 4, kmeansMaxIter = 5)
      Similarity.ivfAppend(spark, dirs(0), again)
      Similarity.ivfPqBuild(corpus, dirs(1), nList = 4, m = 4, nCodes = 8,
        kmeansMaxIter = 5)
      Similarity.ivfPqAppend(spark, dirs(1), again)
      Seq("postings" -> dirs(0), "codes" -> dirs(1)).foreach {
        case (table, dir) =>
          val l = lists(table, dir)
          val built = l.filter(_._1 < 1000000L)
          assert(built.nonEmpty && built.values.toSet.size > 1, table)
          built.foreach { case (id, list) =>
            assert(l(id + 1000000L) == list,
              s"$table: id $id built into list $list, appended into " +
                s"${l(id + 1000000L)}")
          }
      }
    }
  }

  test("persisted IVF-PQ index: codes-only layout, probe-all equals brute force") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val corpus = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = java.nio.file.Files.createTempDirectory("ivfpqidx").toFile
    try {
      Similarity.ivfPqBuild(corpus, dir.getAbsolutePath, nList = 4,
        m = 4, nCodes = 8, kmeansMaxIter = 2)
      // what persists is the COMPRESSED corpus: codes+norm partitioned
      // by list — no vector column anywhere in the index
      val codes = spark.read
        .parquet(dir.getAbsolutePath + "/codes.parquet")
      assert(codes.columns.sorted.sameElements(
        Array("codes", "id", "list", "norm")))
      assert(new java.io.File(dir, "codes.parquet").listFiles()
        .count(_.getName.startsWith("list=")) > 1,
        "codes must be partitioned by inverted list")
      assert(spark.read
        .parquet(dir.getAbsolutePath + "/codebooks.parquet")
        .count() == 4 * 8)
      // probe-all + refine-all THROUGH THE FILES equals brute force
      val full = pairs(Similarity.ivfPqQuery(spark, dir.getAbsolutePath,
        queries, corpus, k = 3, nProbe = 4, refineK = 100000))
      assert(full == pairs(Similarity.bruteForce(queries, corpus, 3)))
      // a partial probe still returns k rows per query, statically
      // pruned to the probed list directories
      val part = Similarity.ivfPqQuery(spark, dir.getAbsolutePath,
        queries, corpus, k = 3, nProbe = 2, refineK = 10)
      assert(part.collect().length == 15)
      val plan = part.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*list".r.findFirstIn(plan).isDefined,
        s"expected a list partition filter in:\n$plan")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfPqAppend encodes against existing quantizers; probe-all stays exact") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val corpus = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mid = corpus.agg(
      percentile_approx(col("id"), lit(0.5), lit(10000))).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqapp").toFile
    try {
      Similarity.ivfPqBuild(corpus.filter(col("id") <= mid),
        dir.getAbsolutePath, nList = 4, m = 4, nCodes = 8,
        kmeansMaxIter = 2)
      val cbBefore = spark.read
        .parquet(dir.getAbsolutePath + "/codebooks.parquet").collect()
        .map(_.toString).sorted.toSeq
      val filesBefore = spark.read
        .parquet(dir.getAbsolutePath + "/codes.parquet").inputFiles.toSet
      Similarity.ivfPqAppend(spark, dir.getAbsolutePath,
        corpus.filter(col("id") > mid))
      // append = new code files only; quantizers untouched
      val filesAfter = spark.read
        .parquet(dir.getAbsolutePath + "/codes.parquet").inputFiles.toSet
      assert(filesBefore.subsetOf(filesAfter) &&
        filesAfter.size > filesBefore.size)
      assert(spark.read
        .parquet(dir.getAbsolutePath + "/codebooks.parquet").collect()
        .map(_.toString).sorted.toSeq == cbBefore)
      // probe-all + refine-all over the grown index == brute force
      val full = pairs(Similarity.ivfPqQuery(spark, dir.getAbsolutePath,
        queries, corpus, k = 3, nProbe = 4, refineK = 100000))
      assert(full == pairs(Similarity.bruteForce(queries, corpus, 3)))
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("IVF-PQ ANN recall with exact refine beats the probe floor") {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val corpus = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.bruteForce(queries, corpus, 3))
    // random gaussian vectors are PQ's worst case (no cluster structure,
    // near-neighbor cosines tightly packed) — the code budget has to be
    // generous for approx ordering to beat the refine cutoff
    val pq = Similarity.ivfPq(queries, corpus, 3, nList = 4, nProbe = 3,
      m = 16, nCodes = 16, refineK = 50)
    val got = pq.collect()
    assert(got.length == 15) // 5 queries x k=3
    val recall = (bf intersect pairs(pq)).size.toDouble / bf.size
    assert(recall >= 0.6, s"recall=$recall")
    // probe-all + refine-all must BE brute force (the q68o gate, locally):
    // the lossy codes only order candidates, exact rescoring decides
    val full = pairs(Similarity.ivfPq(queries, corpus, 3, nList = 4,
      nProbe = 4, m = 4, nCodes = 8, refineK = 1000, kmeansMaxIter = 2))
    assert(full == bf, "probe-all IVF-PQ must equal brute force")
  }

  test("minhash emits each near-dup pair exactly once with true jaccard") {
    import spark.implicits._
    // exact duplicates share ALL bands — the classic multi-band double-
    // verify/double-emit case the bare-id candidate dedup exists for
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),  // near-dup
      (4L, "completely different words nothing shared here at all"))
      .toDF("id", "text")
    val out = Dedup.minhashLsh(docs, "id", "text", shingleN = 3, sigK = 8,
      bands = 4, threshold = 0.1).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1)))
    // exactly once per pair, despite band multiplicity
    assert(pairs.length == pairs.distinct.length, s"dup rows: ${pairs.toSeq}")
    val j = out.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 1.0)
    // true shingle jaccard for (1,3): 6 shingles each, 5 shared → 5/7
    j.get((1L, 3L)).foreach(v => assert(math.abs(v - 5.0 / 7) < 1e-12))
    assert(!j.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("ngramJaccard count and prefix-filter strategies agree exactly") {
    import spark.implicits._
    // real corpus slice: both strategies must emit the SAME pairs with
    // the SAME jaccard doubles (bit-exact — both divide the identical
    // integer intersection count by the identical union size)
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    def run(t: Double) = Dedup.ngramJaccard(docs, "doc_id", "text",
      "source", n = 3, threshold = t)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // t=0.05 takes the count path, t=0.3 the prefix path; re-filtering
    // the low-threshold result at 0.3 must equal the prefix-path result
    val low = run(0.05)
    val high = run(0.3)
    assert(low.nonEmpty)
    assert(low.filter(_._4 >= 0.3) == high)
  }

  test("simhash banded pairs equal all-pairs hamming at the pigeonhole bound") {
    import spark.implicits._
    val docs = (1 to 40).map { i =>
      (i.toLong, (0 until 12).map(k => s"w${(i * 7 + k * 3) % 25}")
        .mkString(" "))
    }.toDF("id", "text")
    // engine signatures, compared pairwise in plain Scala: with
    // maxHamming=3 < 4 bands, pigeonhole guarantees every qualifying
    // pair shares a band, so the banded join must find ALL of them
    val sigs = docs.select(col("id"),
      graft.functions.TextFunctions.simhash64(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val want = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val got = Dedup.simhash(docs, "id", "text", maxHamming = 3)
      .withColumn("hamming", col("hamming").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"got=${got.size} want=${want.size}")
    // and each pair only once (bare-id dedup across bands)
    val all = Dedup.simhash(docs, "id", "text", maxHamming = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(all.length == all.distinct.length)
  }

  test("dedup hot-bucket guard drops degenerate buckets") {
    import spark.implicits._
    // 30 identical docs all land in one simhash bucket; cap 10 drops them
    val docs = ((1 to 30).map(i => (i.toLong, "the same boilerplate text")) ++
      Seq((100L, "a unique document about whales"),
        (101L, "a unique document about whales!"))).toDF("id", "text")
    val uncapped = Dedup.simhash(docs, "id", "text", maxHamming = 3)
    assert(uncapped.count() >= 30L * 29 / 2)
    val capped = Dedup.simhash(docs, "id", "text", maxHamming = 3,
      maxBucketSize = 10)
    val ids = capped.select("id_a").as[Long].collect().toSet ++
      capped.select("id_b").as[Long].collect().toSet
    assert(!ids.exists(_ <= 30))
  }

  test("randomProjection applies the md5 sign matrix as an exact fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val v = Array(1.0f, 2.0f, 4.0f)
    val df = Seq((1L, v)).toDF("vec_id", "embedding")
    val got = Similarity.randomProjection(df, "embedding", 3, 2)
      .select("proj").as[Seq[Double]].collect().head
    val expected = (0 until 2).map(j =>
      (0 until 3).map(i =>
        Similarity.projectionSign(i, j) * v(i).toDouble).sum)
    assert(got == expected)
    // signs are ±1 and the matrix is not degenerate (both signs occur)
    val signs = for (i <- 0 until 8; j <- 0 until 8)
      yield Similarity.projectionSign(i, j)
    assert(signs.toSet == Set(1.0, -1.0))
  }

  test("randomProjection preserves relative distances approximately") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // projection of x and y: |p(x)-p(y)|² should correlate with |x-y|²
    val base = (0 until 64).map(i => math.sin(i * 1.7).toFloat).toArray
    val near = base.clone(); near(0) += 0.01f
    val far = base.map(x => -x)
    val df = Seq((0L, base), (1L, near), (2L, far))
      .toDF("vec_id", "embedding")
    val p = Similarity.randomProjection(df, "embedding", 64, 16)
      .select("vec_id", "proj").as[(Long, Seq[Double])].collect().toMap
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    assert(d2(p(0L), p(1L)) < d2(p(0L), p(2L)))
  }

  test("warnOnTrim fires the trim warning on an over-cap group") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the GAME RE training path (CoordinateDescent) passes
    // warnOnTrim = true so production cap-trimming is never silent —
    // mirror the reference's logged sampling. Local mode only: the
    // flag lives in the (shared) executor JVM.
    val df = (1 to 10).map(i => ("g1", i.toLong)).toDF("g", "uid")
    GroupedSampling.resetTrimWarning()
    // materialize weight_scale explicitly: a bare count() would prune
    // the (deterministic) warning UDF out of the plan entirely
    val under = GroupedSampling.boundedSample(df, Seq("g"), Seq("uid"),
      cap = 20, warnOnTrim = true)
      .select("weight_scale").as[Double].collect()
    assert(under.length == 10 && under.forall(_ == 1.0))
    assert(!GroupedSampling.trimWarningFired,
      "no group over cap, warning must not fire")
    val scales = GroupedSampling.boundedSample(df, Seq("g"), Seq("uid"),
      cap = 3, warnOnTrim = true)
      .select("weight_scale").as[Double].collect()
    assert(scales.length == 3 && scales.forall(_ == 10.0 / 3))
    assert(GroupedSampling.trimWarningFired,
      "a group exceeded the cap, warning must fire")
  }

  // ---- persisted-index lifecycle: compaction + recall probe ----------

  private def annFixture() = {
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val corpus = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    (queries, corpus)
  }

  private def annPairs(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Manifest-resolved physical directory of a logical index table —
    * after a compaction the live data is under a VERSIONED sibling
    * (`postings.parquet.vN`), with the previous copy retained one more
    * publish as the concurrent-reader grace window. */
  private def tablePath(dir: java.io.File, table: String): String =
    Manifest.snapshot(spark, dir.getAbsolutePath).path(table)

  /** Parquet data files per list partition directory of `table`. */
  private def filesPerList(dir: java.io.File,
                           table: String): Map[String, Int] =
    new java.io.File(tablePath(dir, table)).listFiles()
      .filter(_.getName.startsWith("list=")).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap

  test("ivfCompact collapses append fragments to one file per list") {
    val (queries, corpus) = annFixture()
    val mid = corpus.agg(
      percentile_approx(col("id"), lit(0.5), lit(10000))).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("ivfcompact").toFile
    try {
      Similarity.ivfBuild(corpus.filter(col("id") <= mid),
        dir.getAbsolutePath, nList = 4, kmeansMaxIter = 2)
      Similarity.ivfAppend(spark, dir.getAbsolutePath,
        corpus.filter(col("id") > mid))
      // the append left at least one list directory fragmented
      assert(filesPerList(dir, "postings").values.exists(_ > 1),
        "append should fragment at least one hit list")
      val partialBefore = annPairs(Similarity.ivfQuery(spark,
        dir.getAbsolutePath, queries, k = 3, nProbe = 2))
      Similarity.ivfCompact(spark, dir.getAbsolutePath)
      // post-compact: every list is exactly one coherent data file
      val after = filesPerList(dir, "postings")
      assert(after.nonEmpty && after.values.forall(_ == 1),
        s"lists still fragmented: $after")
      // file-compaction keeps ASSIGNMENTS, so even the partial probe
      // is row-identical, and probe-all still equals brute force
      assert(annPairs(Similarity.ivfQuery(spark, dir.getAbsolutePath,
        queries, k = 3, nProbe = 2)) == partialBefore)
      assert(annPairs(Similarity.ivfQuery(spark, dir.getAbsolutePath,
        queries, k = 3, nProbe = 4)) ==
        annPairs(Similarity.bruteForce(queries, corpus, 3)))
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("compaction swap is reader-safe: plans resolved before the flip " +
    "still read, repeated compactions GC old versions") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivfswap").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfBuild(corpus, root, nList = 4, kmeansMaxIter = 2)
      val want = annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4))
      // a reader that resolved the manifest BEFORE the flip: ivfQuery's
      // postings scan is lazy, so interleave compactions between plan
      // construction and the collect — the grace-retained previous
      // version keeps the old plan readable, never a missing table
      val planned = Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4)
      Similarity.ivfCompact(spark, root)
      assert(annPairs(planned) == want,
        "pre-flip plan failed after the compaction published")
      // and a fresh resolve sees the compacted version, same rows
      assert(annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4)) == want)
      // second and third flips: plans interleaved around EVERY publish
      // keep answering, while grandparent versions + manifests are GC'd
      val planned2 = Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4)
      Similarity.ivfCompact(spark, root, rebuild = true,
        kmeansMaxIter = 2)
      assert(annPairs(planned2) == want)
      Similarity.ivfCompact(spark, root)
      assert(annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4)) == want)
      // static list-pruning must survive the move to a VERSIONED
      // postings directory: the probe's scan still carries the literal
      // partition filter, so unprobed lists never leave storage
      val partialPlan = Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 2).queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*list".r
        .findFirstIn(partialPlan).isDefined,
        s"expected a list partition filter in:\n$partialPlan")
      val names = dir.listFiles().map(_.getName).toSeq
      assert(names.count(_.startsWith("_manifest.v")) <= 2,
        s"old manifests not GC'd: $names")
      assert(names.count(_.startsWith("postings.parquet")) <= 2,
        s"grandparent postings versions not GC'd: $names")
      assert(!names.exists(_.contains(".tmp")) &&
        !names.exists(_.contains("inprogress")),
        s"publish debris left behind: $names")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfCompact maxRecordsPerFile splits a hot list into bounded files") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivfhotlist").toFile
    val root = dir.getAbsolutePath
    try {
      // nList=2: the bigger list holds ≥ half the corpus — a hot list
      // that would otherwise compact into one giant file (= one giant
      // task for every later probe that hits it)
      Similarity.ivfBuild(corpus, root, nList = 2, kmeansMaxIter = 2)
      val want = annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 2))
      val total = corpus.count()
      Similarity.ivfCompact(spark, root,
        maxRecordsPerFile = total / 8 + 1)
      val files = filesPerList(dir, "postings")
      assert(files.values.exists(_ > 1),
        s"hot list should split into multiple bounded files: $files")
      // probe results identical under the re-filed layout
      assert(annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 2)) == want)
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfCompact(rebuild) refits the whole index; probe-all stays exact") {
    val (queries, corpus) = annFixture()
    val mid = corpus.agg(
      percentile_approx(col("id"), lit(0.5), lit(10000))).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("ivfrebuild").toFile
    try {
      Similarity.ivfBuild(corpus.filter(col("id") <= mid),
        dir.getAbsolutePath, nList = 4, kmeansMaxIter = 2)
      Similarity.ivfAppend(spark, dir.getAbsolutePath,
        corpus.filter(col("id") > mid))
      val n = spark.read
        .parquet(tablePath(dir, "postings")).count()
      Similarity.ivfCompact(spark, dir.getAbsolutePath, rebuild = true,
        kmeansMaxIter = 2)
      // rebuilt in place: same nList, same row count, defragmented,
      // and probe-all through the refit index equals brute force
      assert(spark.read
        .parquet(tablePath(dir, "centroids")).count() == 4)
      assert(spark.read
        .parquet(tablePath(dir, "postings")).count() == n)
      assert(filesPerList(dir, "postings").values.forall(_ == 1))
      assert(annPairs(Similarity.ivfQuery(spark, dir.getAbsolutePath,
        queries, k = 3, nProbe = 4)) ==
        annPairs(Similarity.bruteForce(queries, corpus, 3)))
      // no rebuild debris left behind
      assert(!new java.io.File(dir, "_rebuild.tmp").exists())
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfPqCompact defragments the codes table; probe stays exact") {
    val (queries, corpus) = annFixture()
    val mid = corpus.agg(
      percentile_approx(col("id"), lit(0.5), lit(10000))).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqcompact").toFile
    try {
      Similarity.ivfPqBuild(corpus.filter(col("id") <= mid),
        dir.getAbsolutePath, nList = 4, m = 4, nCodes = 8,
        kmeansMaxIter = 2)
      Similarity.ivfPqAppend(spark, dir.getAbsolutePath,
        corpus.filter(col("id") > mid))
      assert(filesPerList(dir, "codes").values.exists(_ > 1))
      Similarity.ivfPqCompact(spark, dir.getAbsolutePath)
      val after = filesPerList(dir, "codes")
      assert(after.nonEmpty && after.values.forall(_ == 1),
        s"lists still fragmented: $after")
      assert(annPairs(Similarity.ivfPqQuery(spark, dir.getAbsolutePath,
        queries, corpus, k = 3, nProbe = 4, refineK = 100000)) ==
        annPairs(Similarity.bruteForce(queries, corpus, 3)))
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("benchmarkContamination flags by max benchmark cosine in one " +
    "zero-shuffle projection") {
    import spark.implicits._
    val bench = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0))
    ).toDF("bid", "bv")
    val corpus = Seq(
      (10L, Seq(2.0, 0.0, 0.0, 0.0)),  // colinear with bench 0 -> 1.0
      (11L, Seq(0.0, 0.0, 3.0, 0.0)),  // orthogonal to both -> 0.0
      (12L, Seq(1.0, 1.0, 0.0, 0.0)),  // 45° to both -> ~0.707
      (13L, Seq(-1.0, -1.0, 0.0, 0.0)) // anti-aligned -> ~-0.707
    ).toDF("id", "v")
    val got = Similarity.benchmarkContamination(corpus, "id", "v",
      bench, "bv", tau = 0.7)
    val rows = got.select("id", "max_benchmark_cosine", "contaminated")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1) * 1000).round / 1000.0, r.getBoolean(2))).toMap
    assert(rows(10L) == (1.0, true))
    assert(rows(11L) == (0.0, false))
    assert(rows(12L) == (0.707, true))
    assert(rows(13L) == (-0.707, false))
    // the scale claim: a broadcast + map projection, never a shuffle
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"decontamination must be zero-shuffle:\n$plan")
  }

  test("benchmarkContamination's scale path (benchmark as a persisted " +
    "index, corpus probes top-1) agrees with the broadcast pass") {
    val (bench, corpus) = annFixture() // 5 "benchmark" + rest "corpus"
    val dir = java.nio.file.Files.createTempDirectory("decontamidx").toFile
    try {
      val want = Similarity.benchmarkContamination(corpus, "id", "v",
        bench.select(col("qv")), "qv", tau = 0.25)
        .select("id", "max_benchmark_cosine").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // roles flipped: index the BENCHMARK, probe with the corpus;
      // top-1 cosine at probe-all IS the max benchmark cosine
      Similarity.ivfBuild(bench.select(col("qid").as("id"),
        col("qv").as("v")), dir.getAbsolutePath, nList = 2,
        kmeansMaxIter = 2)
      val got = Similarity.ivfQuery(spark, dir.getAbsolutePath,
        corpus.select(col("id").as("qid"), col("v").as("qv")),
        k = 1, nProbe = 2)
        .select("qid", "cosine").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == want.keySet)
      got.foreach { case (id, c) =>
        assert(math.abs(c - want(id)) < 1e-12, s"id=$id $c vs ${want(id)}")
      }
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfRecallProbe measures the production probe against brute force") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivfrecall").toFile
    try {
      Similarity.ivfBuild(corpus, dir.getAbsolutePath, nList = 4,
        kmeansMaxIter = 2)
      // probe-all recall is exactly 1.0 (the oracle identity)
      assert(Similarity.ivfRecallProbe(spark, dir.getAbsolutePath,
        queries, k = 3, nProbe = 4) == 1.0)
      // the production partial probe sits in (0, 1] and above the
      // half-coverage floor the in-memory IVF spec pins
      val r = Similarity.ivfRecallProbe(spark, dir.getAbsolutePath,
        queries, k = 3, nProbe = 2)
      assert(r >= 0.4 && r <= 1.0, s"recall=$r")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("recall decay is observable and a rebuild restores it: " +
    "append drift -> ivfRecallProbe falls -> ivfCompact(rebuild) recovers") {
    import spark.implicits._
    val dim = 8
    def jitter(i: Int, j: Int, s: Double): Double =
      math.sin(i * 31 + j * 7) * s
    // initial distribution: two tight clusters at (0, ±5) — nList=2
    // k-means puts one centroid on each
    val aRows = (0 until 200).map { i =>
      val cy = if (i % 2 == 0) 5.0 else -5.0
      (i.toLong, Array.tabulate(dim) { j =>
        (if (j == 1) cy else 0.0) + jitter(i, j, 0.3)
      })
    }
    // drifted distribution: a NEW mass at x=10 — ON the Voronoi
    // boundary between the two stale centroids. Its y-sign (±0.2,
    // alternating) decides which list an append assigns each point to
    // (a clean ~50/50 split), while the cosine ranking the probe is
    // graded on is dominated by the SHARED x=10 direction plus
    // higher-dim jitter — i.e. the true neighbors of a drift query are
    // spread over both lists, and a fixed nProbe=1 probe sees half
    def bRow(i: Int): (Long, Array[Double]) =
      (1000L + i, Array.tabulate(dim) { j =>
        (if (j == 0) 10.0
         else if (j == 1) (if (i % 2 == 0) 0.2 else -0.2)
         else 0.0) + (if (j <= 1) 0.0 else jitter(i + 977, j, 0.4))
      })
    // monitor query samples follow the live distribution: pre-drift
    // queries near the original clusters, post-drift queries from the
    // drifted mass (y component exactly 0 — the boundary)
    val qA = (0 until 6).map { i =>
      (i.toLong, Array.tabulate(dim) { j =>
        (if (j == 1) 5.0 else 0.0) + jitter(i + 211, j, 0.3)
      })
    }.toDF("qid", "qv")
    val qB = (0 until 6).map { i =>
      (i.toLong, Array.tabulate(dim) { j =>
        (if (j == 0) 10.0 else if (j == 1) 0.0
         else jitter(i + 4099, j, 0.4))
      })
    }.toDF("qid", "qv")
    val dir = java.nio.file.Files.createTempDirectory("ivfdecay").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfBuild(aRows.toDF("id", "v"), root, nList = 2,
        kmeansMaxIter = 5)
      val before = Similarity.ivfRecallProbe(spark, root, qA,
        k = 10, nProbe = 1)
      // three drifted daily batches, appended without refit
      (0 until 3).foreach { b =>
        Similarity.ivfAppend(spark, root,
          (b * 100 until (b + 1) * 100).map(bRow).toDF("id", "v"))
      }
      val decayed = Similarity.ivfRecallProbe(spark, root, qB,
        k = 10, nProbe = 1)
      Similarity.ivfCompact(spark, root, rebuild = true, kmeansMaxIter = 5)
      val restored = Similarity.ivfRecallProbe(spark, root, qB,
        k = 10, nProbe = 1)
      info(f"recall@10 nProbe=1: before=$before%.3f " +
        f"decayed=$decayed%.3f restored=$restored%.3f")
      // the monotone story the probe exists for: healthy -> drift
      // degrades the fixed-budget probe -> a refit restores it
      assert(before >= 0.9, f"pre-drift probe unhealthy: $before%.3f")
      assert(decayed <= 0.65,
        f"drifted appends should decay a fixed nProbe=1 probe: $decayed%.3f")
      assert(restored >= decayed + 0.3 && restored >= 0.9,
        f"rebuild should restore recall: decayed=$decayed%.3f " +
          f"restored=$restored%.3f")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfIndexHealth reports layout + recall; fragmentation and " +
    "compaction show up in the numbers") {
    val (queries, corpus) = annFixture()
    val mid = corpus.agg(
      percentile_approx(col("id"), lit(0.5), lit(10000))).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("ivfhealth").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfBuild(corpus.filter(col("id") <= mid), root,
        nList = 4, kmeansMaxIter = 2)
      Similarity.ivfAppend(spark, root, corpus.filter(col("id") > mid))
      val n = corpus.count()
      val fragmented = Similarity.ivfIndexHealth(spark, root, queries,
        k = 3, nProbe = 4).head()
      assert(fragmented.getAs[Int]("n_lists") == 4)
      assert(fragmented.getAs[Long]("total_rows") == n)
      assert(fragmented.getAs[Int]("max_files_per_list") > 1,
        "append fragmentation must be visible in the report")
      assert(fragmented.getAs[Double]("recall_at_k") == 1.0) // probe-all
      assert(fragmented.getAs[Double]("row_skew") >= 1.0)
      Similarity.ivfCompact(spark, root)
      val compacted = Similarity.ivfIndexHealth(spark, root, queries,
        k = 3, nProbe = 4).head()
      assert(compacted.getAs[Int]("version") == 1)
      assert(compacted.getAs[Long]("total_rows") == n)
      assert(compacted.getAs[Int]("max_files_per_list") == 1,
        "compaction must bring the report back to one file per list")
      assert(compacted.getAs[Double]("recall_at_k") == 1.0)
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfPqIndexHealth reads the codes layout + refined recall") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivfpqhealth").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfPqBuild(corpus, root, nList = 4, m = 4, nCodes = 8,
        kmeansMaxIter = 2)
      val h = Similarity.ivfPqIndexHealth(spark, root, queries, corpus,
        k = 3, nProbe = 4, refineK = corpus.count().toInt).head()
      assert(h.getAs[Int]("n_lists") == 4)
      assert(h.getAs[Long]("total_rows") == corpus.count())
      assert(h.getAs[Double]("recall_at_k") == 1.0) // probe-all+refine-all
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfSuggestNProbe picks the smallest doubling budget meeting the " +
    "target, and probe-all always suffices") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivfsuggest").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfBuild(corpus, root, nList = 4, kmeansMaxIter = 2)
      // target 1.0 is achievable (probe-all is exact), so the suggestion
      // is a valid budget: its measured recall meets the target, and
      // (doubling granularity) half of it does not
      val p = Similarity.ivfSuggestNProbe(spark, root, queries,
        k = 3, targetRecall = 1.0)
      assert(p >= 1 && p <= 4)
      assert(Similarity.ivfRecallProbe(spark, root, queries,
        k = 3, nProbe = p) >= 1.0)
      if (p > 1)
        assert(Similarity.ivfRecallProbe(spark, root, queries,
          k = 3, nProbe = p / 2) < 1.0,
          s"suggested $p but ${p / 2} already meets the target")
      // a looser target can only shrink the suggested budget
      assert(Similarity.ivfSuggestNProbe(spark, root, queries,
        k = 3, targetRecall = 0.5) <= p)
      // pending delete: an exact duplicate of corpus vector `x`, filed
      // under the lower id 1 (so it wins the cosine tie), is appended
      // and then retracted. Self-probing `x` at k = 1 finds `x` in its
      // own nearest list, so one probe meets 1.0 — unless the exact
      // side still counts the retracted duplicate, which no probe can
      // return
      val x = corpus.orderBy("id").limit(1)
      Similarity.ivfAppend(spark, root, x.withColumn("id", lit(1L)))
      Similarity.ivfDelete(spark, root, spark.range(1, 2).toDF("id"))
      val self = x.select(col("id").as("qid"), col("v").as("qv"))
      assert(Similarity.ivfRecallProbe(spark, root, self, k = 1,
        nProbe = 1) == 1.0)
      assert(Similarity.ivfSuggestNProbe(spark, root, self, k = 1,
        targetRecall = 1.0) == 1)
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfIngest streams micro-batch appends into a persisted index") {
    val (queries, corpus) = annFixture()
    val mid = corpus.agg(
      percentile_approx(col("id"), lit(0.5), lit(10000))).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("ivfingest").toFile
    val root = dir.getAbsolutePath
    val stage = java.nio.file.Files.createTempDirectory("ivfingest_stage")
      .toFile
    val ckpt = java.nio.file.Files.createTempDirectory("ivfingest_ckpt")
      .toFile
    try {
      Similarity.ivfBuild(corpus.filter(col("id") <= mid), root,
        nList = 4, kmeansMaxIter = 2)
      // stage the delta as files; replay as a stream in small batches
      val delta = corpus.filter(col("id") > mid)
      val stagePath = stage.getAbsolutePath + "/files"
      delta.repartition(4).write.parquet(stagePath)
      val stream = spark.readStream
        .schema(delta.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stagePath)
      val q = Similarity.ivfIngest(stream, root, ckpt.getAbsolutePath)
      try q.processAllAvailable()
      finally q.stop()
      // the grown index answers probe-all exactly over the full corpus
      assert(annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4)) ==
        annPairs(Similarity.bruteForce(queries, corpus, 3)))
      // multiple micro-batches left fragmentation for the compactor
      assert(filesPerList(dir, "postings").values.exists(_ > 1))
      Similarity.ivfCompact(spark, root)
      assert(filesPerList(dir, "postings").values.forall(_ == 1))
      assert(annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4)) ==
        annPairs(Similarity.bruteForce(queries, corpus, 3)))
    } finally {
      graft.util.TempDirs.deleteRecursively(dir)
      graft.util.TempDirs.deleteRecursively(stage)
      graft.util.TempDirs.deleteRecursively(ckpt)
    }
  }

  test("ivfDriftProbe: ratio 1 on in-distribution batches, 0 on " +
    "orthogonal drift, and the planner turns the floor into rebuild") {
    import spark.implicits._
    def pt(dim: Int): Array[Float] = {
      val a = new Array[Float](8); a(dim) = 1.0f; a
    }
    val corpus = (0 until 4).map(c => (c.toLong, pt(c))).toDF("id", "v")
    val drifted = (0 until 4).map(c => (100L + c, pt(4 + c)))
      .toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("ivfdrift").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfBuild(corpus, root, nList = 4, kmeansMaxIter = 10)
      val healthy = Similarity.ivfDriftProbe(spark, root, corpus).head()
      assert(math.abs(healthy.getAs[Double]("base_mean_sim") - 1.0) < 1e-12)
      assert(math.abs(healthy.getAs[Double]("drift_ratio") - 1.0) < 1e-12)
      val drift = Similarity.ivfDriftProbe(spark, root, drifted)
      val dRow = drift.head()
      assert(math.abs(dRow.getAs[Double]("batch_mean_sim")) < 1e-12)
      assert(math.abs(dRow.getAs[Double]("drift_ratio")) < 1e-12)
      // the planner rule: under the floor -> rebuild; the default floor
      // (negative infinity) never triggers even at ratio 0
      assert(Similarity.indexMaintenancePlan(drift, recallFloor = 0.0,
        maxFilesPerListCeiling = Long.MaxValue, driftRatioFloor = 0.5)
        .head().getAs[String]("action") == "rebuild")
      assert(Similarity.indexMaintenancePlan(drift, recallFloor = 0.0,
        maxFilesPerListCeiling = Long.MaxValue)
        .head().getAs[String]("action") == "none")
      // an IVF health row (no drift_ratio column) cannot trip the
      // drift rule — absent columns are NULL, NULL never triggers
      val health = Similarity.ivfIndexHealth(spark, root,
        corpus.select(col("id").as("qid"), col("v").as("qv")),
        k = 1, nProbe = 4)
      assert(Similarity.indexMaintenancePlan(health, recallFloor = 0.0,
        maxFilesPerListCeiling = Long.MaxValue, driftRatioFloor = 0.5)
        .head().getAs[String]("action") == "none")
      // sampled base side: 1-in-2 deterministic sample still reads a
      // nonempty slice and keeps the exact fixture value
      val sampled = Similarity.ivfDriftProbe(spark, root, corpus,
        baseSampleMod = 2L).head()
      assert(math.abs(sampled.getAs[Double]("base_mean_sim") - 1.0) < 1e-12)
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("drift probes bound their base-side IO: past maxBaseFiles the " +
    "scan touches a deterministic file subset, never the whole index") {
    import spark.implicits._
    def pt(dim: Int): Array[Float] = {
      val a = new Array[Float](8); a(dim) = 1.0f; a
    }
    val corpus = (0 until 4).map(c => (c.toLong, pt(c))).toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("driftio").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfBuild(corpus, root, nList = 4, kmeansMaxIter = 10)
      // grow the postings to many file fragments via per-row appends
      (0 until 6).foreach { i =>
        Similarity.ivfAppend(spark, root,
          (0 until 4).map(c => (1000L + 4L * i + c, pt(c))).toDF("id", "v"))
      }
      val full = Similarity.ivfDriftProbe(spark, root, corpus).head()
      val total = full.getAs[Long]("base_files_total")
      assert(total > 4L, s"fixture should be fragmented, got $total files")
      assert(full.getAs[Long]("base_files_read") == total)
      // capped probe: reads exactly the cap, reports the fraction, and
      // the fixture's exact constant survives (every vector is an axis
      // point at cosine 1 to its centroid, whatever subset is read)
      val capped = Similarity.ivfDriftProbe(spark, root, corpus,
        maxBaseFiles = 3).head()
      assert(capped.getAs[Long]("base_files_read") == 3L)
      assert(capped.getAs[Long]("base_files_total") == total)
      assert(math.abs(capped.getAs[Double]("base_mean_sim") - 1.0) < 1e-12)
      assert(math.abs(capped.getAs[Double]("drift_ratio") - 1.0) < 1e-12)
      // determinism: the same cap picks the same subset (same values,
      // same files) across invocations
      val again = Similarity.ivfDriftProbe(spark, root, corpus,
        maxBaseFiles = 3).head()
      assert(again.getAs[Double]("base_mean_sim") ==
        capped.getAs[Double]("base_mean_sim"))
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfPqDriftProbe scores reconstructions: exact fixture gives " +
    "ratio 1, orthogonal drift gives 0, stale codebooks pull base down") {
    import spark.implicits._
    def pt(dim: Int): Array[Float] = {
      val a = new Array[Float](8); a(dim) = 1.0f; a
    }
    val corpus = (0 until 4).map(c => (c.toLong, pt(c))).toDF("id", "v")
    val drifted = (0 until 4).map(c => (100L + c, pt(4 + c)))
      .toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("pqdrift").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfPqBuild(corpus, root, nList = 4, m = 4, nCodes = 4,
        kmeansMaxIter = 10)
      val healthy = Similarity.ivfPqDriftProbe(spark, root, corpus).head()
      assert(math.abs(healthy.getAs[Double]("base_mean_sim") - 1.0) < 1e-12)
      assert(math.abs(healthy.getAs[Double]("drift_ratio") - 1.0) < 1e-12)
      val dRow = Similarity.ivfPqDriftProbe(spark, root, drifted).head()
      assert(math.abs(dRow.getAs[Double]("batch_mean_sim")) < 1e-12)
      // codebook staleness is visible through the BASE side: append an
      // off-axis vector the codebooks cannot represent — its
      // reconstruction snaps to stale codebook entries ((0.6, 0.8) →
      // (0, 1); (1, 0) stays), lands in list 2 but reconstructs to
      // (0, 1, 1, 0, …), cosine 1/√2 to its centroid — pulling
      // base_mean_sim strictly below the pre-append exact 1.0
      val off = new Array[Float](8)
      off(0) = 0.6f; off(1) = 0.8f; off(2) = 1.0f
      Similarity.ivfPqAppend(spark, root,
        Seq((200L, off)).toDF("id", "v"))
      val stale = Similarity.ivfPqDriftProbe(spark, root, corpus).head()
      val b = stale.getAs[Double]("base_mean_sim")
      assert(b < 1.0 - 1e-9 && b > 0.9,
        s"stale codebooks must depress base_mean_sim: $stale")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("fleetMaintenanceApply executes a mixed-family plan with per-row " +
    "isolation: compacts run, prepasses need their corpus, semdedup " +
    "rebuilds defer to the operator") {
    import spark.implicits._
    val boiler = "all work and no play makes jack a dull boy"
    val hotDocs = (0L until 8L).map(i => (i, boiler)).toDF("id", "text")
      .repartition(1)
    val fragDocs = Seq(
      0L -> "the quick brown fox jumps over the lazy dog",
      1L -> "pack my box with five dozen liquor jugs",
      2L -> "how vexingly quick daft zebras jump")
      .toDF("id", "text").repartition(1)
    def vv(c: Double) = Seq(c, c + 0.001)
    val semVecs = Seq((0L, vv(1.0)), (1L, vv(1.0)), (2L, vv(1.0)),
      (3L, vv(-5.0))).toDF("id", "vec")
    val dirs = Seq("fleet_mh_", "fleet_sh_", "fleet_sem_")
      .map(p => java.nio.file.Files.createTempDirectory(p).toFile)
    try {
      val Seq(mhDir, shDir, semDir) = dirs.map(_.getAbsolutePath)
      Dedup.minhashIndexBuild(hotDocs, mhDir, "id", "text")
      Dedup.simhashIndexBuild(fragDocs.filter(col("id") === 0L), shDir,
        "id", "text")
      (1L until 3L).foreach(i => Dedup.simhashIndexAppend(spark, shDir,
        fragDocs.filter(col("id") === i), "id", "text"))
      val (labels, centroids) = Clustering.kmeansWithCentroids(
        semVecs, "id", "vec", k = 2, iterations = 2)
      Clustering.semDedupStateSave(spark, semDir, labels, "id", centroids)
      Clustering.releasePairs(labels)
      def fleet() = Dedup.minhashIndexHealth(spark, mhDir,
          hotBucketCap = 5)
        .unionByName(Dedup.simhashIndexHealth(spark, shDir),
          allowMissingColumns = true)
        .unionByName(Clustering.semDedupStateHealth(spark, semDir,
          hotClusterCap = 2), allowMissingColumns = true)
      def plan() = Similarity.indexMaintenancePlan(fleet(),
        recallFloor = 0.9, maxFilesPerListCeiling = 10,
        maxFragmentsCeiling = 2, hotClustersCeiling = 0L)
      val planned = plan().select("dir", "action").as[(String, String)]
        .collect().toMap
      assert(planned(mhDir) == "dedup_prepass")
      assert(planned(shDir) == "compact")
      assert(planned(semDir) == "rebuild")
      // first apply: no corpora — the prepass is SKIPPED loudly, the
      // compact executes, the semdedup rebuild defers to the operator
      val r1 = Similarity.fleetMaintenanceApply(spark, plan())
        .select("dir", "family", "status").as[(String, String, String)]
        .collect().map { case (d, f, s) => d -> (f, s) }.toMap
      assert(r1(mhDir) == ("minhash", "skipped"))
      assert(r1(shDir) == ("simhash", "executed"))
      assert(r1(semDir) == ("semdedup", "skipped"))
      assert(Dedup.simhashIndexHealth(spark, shDir)
        .head().getAs[Long]("n_fragments") == 1L)
      // second apply WITH the minhash corpus: the prepass executes and
      // the re-planned fleet row goes quiet
      val r2 = Similarity.fleetMaintenanceApply(spark, plan(),
        corpora = Map(mhDir -> hotDocs))
        .select("dir", "status").as[(String, String)].collect().toMap
      assert(r2(mhDir) == "executed")
      val after = plan().select("dir", "action").as[(String, String)]
        .collect().toMap
      assert(after(mhDir) == "none" && after(shDir) == "none")
      // `none` rows report as skipped/no-op, never as failures
      val r3 = Similarity.fleetMaintenanceApply(spark, plan())
        .select("status").as[String].collect().toSet
      assert(!r3.contains("failed"))
    } finally dirs.foreach(graft.util.TempDirs.deleteRecursively)
  }

  test("minhashIngest and simhashIngest stream micro-batch appends " +
    "into the persisted text indexes") {
    import spark.implicits._
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base = Seq((1L, txt),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("id", "text")
    val batches = Seq(
      (20L, txt),
      (21L, "cold warm hot mild cool damp dry wet calm windy"),
      (22L, txt + " lambda"))
      .toDF("id", "text")
    val delta = Seq((100L, txt)).toDF("id", "text")
    val mhDir = java.nio.file.Files.createTempDirectory("mhing").toFile
    val shDir = java.nio.file.Files.createTempDirectory("shing").toFile
    val stage = java.nio.file.Files.createTempDirectory("txting").toFile
    try {
      Dedup.minhashIndexBuild(base, mhDir.getAbsolutePath, "id", "text")
      Dedup.simhashIndexBuild(base, shDir.getAbsolutePath, "id", "text")
      val files = stage.getAbsolutePath + "/files"
      batches.repartition(3).write.parquet(files)
      val stream1 = spark.readStream.schema(batches.schema)
        .option("maxFilesPerTrigger", "1").parquet(files)
      val q1 = Dedup.minhashIngest(stream1, mhDir.getAbsolutePath,
        stage.getAbsolutePath + "/ckpt_mh")
      try q1.processAllAvailable() finally q1.stop()
      val stream2 = spark.readStream.schema(batches.schema)
        .option("maxFilesPerTrigger", "1").parquet(files)
      val q2 = Dedup.simhashIngest(stream2, shDir.getAbsolutePath,
        stage.getAbsolutePath + "/ckpt_sh")
      try q2.processAllAvailable() finally q2.stop()
      // both grown indexes see the streamed batches: the probe reports
      // near-dups against streamed id 20/22, not just the base
      val mhGot = Dedup.minhashIndexProbe(spark, mhDir.getAbsolutePath,
        delta, base.unionByName(batches), "id", "text", threshold = 0.5)
        .select("base_id").as[Long].collect().toSet
      assert(Set(1L, 20L).subsetOf(mhGot), s"minhash probe saw $mhGot")
      val shGot = Dedup.simhashIndexProbe(spark, shDir.getAbsolutePath,
        delta, "id", "text", maxHamming = 16)
        .select("base_id").as[Long].collect().toSet
      assert(Set(1L, 20L).subsetOf(shGot), s"simhash probe saw $shGot")
      // micro-batches fragmented both tables; compaction folds them
      assert(Dedup.minhashIndexHealth(spark, mhDir.getAbsolutePath)
        .head().getAs[Long]("n_fragments") >= 2L)
      assert(Dedup.simhashIndexHealth(spark, shDir.getAbsolutePath)
        .head().getAs[Long]("n_fragments") >= 2L)
      Dedup.minhashIndexCompact(spark, mhDir.getAbsolutePath)
      Dedup.simhashIndexCompact(spark, shDir.getAbsolutePath)
      assert(Dedup.minhashIndexProbe(spark, mhDir.getAbsolutePath,
        delta, base.unionByName(batches), "id", "text", threshold = 0.5)
        .select("base_id").as[Long].collect().toSet == mhGot)
      assert(Dedup.simhashIndexProbe(spark, shDir.getAbsolutePath,
        delta, "id", "text", maxHamming = 16)
        .select("base_id").as[Long].collect().toSet == shGot)
    } finally {
      graft.util.TempDirs.deleteRecursively(mhDir)
      graft.util.TempDirs.deleteRecursively(shDir)
      graft.util.TempDirs.deleteRecursively(stage)
    }
  }

  test("ivfPqIngest streams encoded micro-batches into the codes table") {
    val (queries, corpus) = annFixture()
    val mid = corpus.agg(
      percentile_approx(col("id"), lit(0.5), lit(10000))).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqingest").toFile
    val root = dir.getAbsolutePath
    val stage = java.nio.file.Files
      .createTempDirectory("ivfpqingest_stage").toFile
    try {
      Similarity.ivfPqBuild(corpus.filter(col("id") <= mid), root,
        nList = 4, m = 4, nCodes = 8, kmeansMaxIter = 2)
      val delta = corpus.filter(col("id") > mid)
      val files = stage.getAbsolutePath + "/files"
      delta.repartition(3).write.parquet(files)
      val stream = spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", "1").parquet(files)
      val q = Similarity.ivfPqIngest(stream, root,
        stage.getAbsolutePath + "/ckpt")
      try q.processAllAvailable()
      finally q.stop()
      // probe-all + refine-all over the grown compressed index is exact
      assert(annPairs(Similarity.ivfPqQuery(spark, root, queries, corpus,
        k = 3, nProbe = 4, refineK = 100000)) ==
        annPairs(Similarity.bruteForce(queries, corpus, 3)))
      assert(filesPerList(dir, "codes").values.exists(_ > 1))
    } finally {
      graft.util.TempDirs.deleteRecursively(dir)
      graft.util.TempDirs.deleteRecursively(stage)
    }
  }

  test("a fresh in-place build resets stale compaction manifests") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivfrebuildfresh")
      .toFile
    val root = dir.getAbsolutePath
    try {
      val half = corpus.filter(col("id") % 2 === 0)
      Similarity.ivfBuild(half, root, nList = 4, kmeansMaxIter = 2)
      Similarity.ivfCompact(spark, root) // manifest now at v1
      // a user rebuilds from scratch over the FULL corpus, in place:
      // without a manifest reset, readers would resolve the stale v1
      // postings and silently answer over half the data
      Similarity.ivfBuild(corpus, root, nList = 4, kmeansMaxIter = 2)
      assert(annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4)) ==
        annPairs(Similarity.bruteForce(queries, corpus, 3)))
      val names = dir.listFiles().map(_.getName).toSeq
      assert(!names.exists(_.startsWith("_manifest.v")),
        s"stale manifest survived the fresh build: $names")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfPqRebuild refits the compressed index in one reader-safe flip") {
    val (queries, corpus) = annFixture()
    val mid = corpus.agg(
      percentile_approx(col("id"), lit(0.5), lit(10000))).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqrebuild").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfPqBuild(corpus.filter(col("id") <= mid), root,
        nList = 4, m = 4, nCodes = 8, kmeansMaxIter = 2)
      Similarity.ivfPqAppend(spark, root, corpus.filter(col("id") > mid))
      // a reader that planned against the pre-rebuild index keeps
      // working through the grace-retained version
      val planned = Similarity.ivfPqQuery(spark, root, queries, corpus,
        k = 3, nProbe = 4, refineK = 100000)
      Similarity.ivfPqRebuild(spark, root, corpus, kmeansMaxIter = 2)
      val want = annPairs(Similarity.bruteForce(queries, corpus, 3))
      assert(annPairs(planned) == want)
      // the refit index: same hyper-params, one manifest version for
      // all three tables, defragmented, exhaustive-exact at probe-all
      assert(annPairs(Similarity.ivfPqQuery(spark, root, queries, corpus,
        k = 3, nProbe = 4, refineK = 100000)) == want)
      val snap = Manifest.snapshot(spark, root)
      assert(snap.version == 1)
      assert(Set("centroids", "codebooks", "codes")
        .forall(snap.map.contains), snap.map.toString)
      assert(filesPerList(dir, "codes").values.forall(_ == 1))
      assert(!new java.io.File(dir, "_rebuild.tmp").exists())
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("IVF-PQ recall decay and recovery: drifted appends degrade " +
    "ivfPqRecallProbe, ivfPqRebuild restores it") {
    import spark.implicits._
    val dim = 8
    def jitter(i: Int, j: Int, s: Double): Double =
      math.sin(i * 31 + j * 7) * s
    // same drift construction as the IVF decay spec: base mass at
    // (0, ±5), drifted mass at x=10 straddling the Voronoi boundary
    val aRows = (0 until 200).map { i =>
      val cy = if (i % 2 == 0) 5.0 else -5.0
      (i.toLong, Array.tabulate(dim) { j =>
        (if (j == 1) cy else 0.0) + jitter(i, j, 0.3)
      })
    }
    def bRow(i: Int): (Long, Array[Double]) =
      (1000L + i, Array.tabulate(dim) { j =>
        (if (j == 0) 10.0
         else if (j == 1) (if (i % 2 == 0) 0.2 else -0.2)
         else 0.0) + (if (j <= 1) 0.0 else jitter(i + 977, j, 0.4))
      })
    val qB = (0 until 6).map { i =>
      (i.toLong, Array.tabulate(dim) { j =>
        (if (j == 0) 10.0 else if (j == 1) 0.0
         else jitter(i + 4099, j, 0.4))
      })
    }.toDF("qid", "qv")
    val base = aRows.toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("ivfpqdecay").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfPqBuild(base, root, nList = 2, m = 4, nCodes = 8,
        kmeansMaxIter = 5)
      (0 until 3).foreach { b =>
        Similarity.ivfPqAppend(spark, root,
          (b * 100 until (b + 1) * 100).map(bRow).toDF("id", "v"))
      }
      val corpus = base.unionByName(
        (0 until 300).map(bRow).toDF("id", "v"))
      val decayed = Similarity.ivfPqRecallProbe(spark, root, qB, corpus,
        k = 10, nProbe = 1, refineK = 1000)
      Similarity.ivfPqRebuild(spark, root, corpus, kmeansMaxIter = 5)
      val restored = Similarity.ivfPqRecallProbe(spark, root, qB, corpus,
        k = 10, nProbe = 1, refineK = 1000)
      info(f"PQ recall@10 nProbe=1: decayed=$decayed%.3f " +
        f"restored=$restored%.3f")
      assert(decayed <= 0.65,
        f"drifted appends should decay the PQ probe: $decayed%.3f")
      assert(restored >= decayed + 0.3 && restored >= 0.9,
        f"ivfPqRebuild should restore recall: decayed=$decayed%.3f " +
          f"restored=$restored%.3f")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfPqRecallProbe: probe-all + refine-all recall is 1.0") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivfpqrecall").toFile
    try {
      Similarity.ivfPqBuild(corpus, dir.getAbsolutePath, nList = 4,
        m = 4, nCodes = 8, kmeansMaxIter = 2)
      assert(Similarity.ivfPqRecallProbe(spark, dir.getAbsolutePath,
        queries, corpus, k = 3, nProbe = 4, refineK = 100000) == 1.0)
      // the partial production probe is a monitor READING, not a
      // guarantee — PQ at m=4/nCodes=8 is deliberately lossy on these
      // embeddings; the point is that the probe quantifies that loss
      // (here well under the rebuild bar) instead of hiding it
      val r = Similarity.ivfPqRecallProbe(spark, dir.getAbsolutePath,
        queries, corpus, k = 3, nProbe = 2, refineK = 20)
      assert(r >= 0.0 && r < 1.0, s"recall=$r")
      // pending delete: every query's exact nearest neighbor is
      // retracted. The probe stops returning those ids at once, so the
      // exact side must drop them too or probe-all reads below 1.0
      val nearest = Similarity.bruteForce(queries, corpus, 1).select("id")
      Similarity.ivfDelete(spark, dir.getAbsolutePath, nearest)
      assert(Similarity.ivfPqRecallProbe(spark, dir.getAbsolutePath,
        queries, corpus, k = 3, nProbe = 4, refineK = 100000) == 1.0)
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfPqSuggestNProbe picks the smallest doubling budget meeting " +
    "the target at the deployed refineK, and probe-all suffices") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivfpqsuggest").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfPqBuild(corpus, root, nList = 4, m = 4, nCodes = 8,
        kmeansMaxIter = 2)
      // refine-all makes target 1.0 achievable (probe-all + refine-all
      // is exact), so the suggestion is a valid deployed budget: its
      // measured recall meets the target and (doubling granularity)
      // half of it does not
      val refineK = corpus.count().toInt
      val p = Similarity.ivfPqSuggestNProbe(spark, root, queries, corpus,
        k = 3, refineK = refineK, targetRecall = 1.0)
        .getOrElse(fail("target 1.0 must be reachable under refine-all"))
      assert(p >= 1 && p <= 4)
      assert(Similarity.ivfPqRecallProbe(spark, root, queries, corpus,
        k = 3, nProbe = p, refineK = refineK) >= 1.0)
      if (p > 1)
        assert(Similarity.ivfPqRecallProbe(spark, root, queries, corpus,
          k = 3, nProbe = p / 2, refineK = refineK) < 1.0,
          s"suggested $p but ${p / 2} already meets the target")
      // a looser target can only shrink the suggested budget
      assert(Similarity.ivfPqSuggestNProbe(spark, root, queries, corpus,
        k = 3, refineK = refineK, targetRecall = 0.5).exists(_ <= p))
      // a target unreachable at the deployed refineK must be REPORTED
      // unreachable (None), not papered over with probe-all: recall
      // can't exceed refineK/k·|queries| worth of hits when the refine
      // set is a single candidate per query
      assert(Similarity.ivfPqSuggestNProbe(spark, root, queries, corpus,
        k = 3, refineK = 1, targetRecall = 1.0).isEmpty,
        "refineK=1 cannot reach recall 1.0 at k=3; suggester must " +
          "return None instead of an unmeasured probe-all budget")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("index health carries the suggested probe budget when asked, " +
    "NULL otherwise (both layouts)") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("healthsuggest").toFile
    val pqDir = java.nio.file.Files.createTempDirectory("healthsuggestpq")
      .toFile
    try {
      Similarity.ivfBuild(corpus, dir.getAbsolutePath, nList = 4,
        kmeansMaxIter = 2)
      val plain = Similarity.ivfIndexHealth(spark, dir.getAbsolutePath,
        queries, k = 3, nProbe = 4).head()
      assert(plain.isNullAt(plain.fieldIndex("suggested_n_probe")),
        "the tuner is opt-in: the default report must not pay for it")
      val h = Similarity.ivfIndexHealth(spark, dir.getAbsolutePath,
        queries, k = 3, nProbe = 4,
        suggestTargetRecall = Some(1.0)).head()
      assert(h.getAs[Int]("suggested_n_probe") ==
        Similarity.ivfSuggestNProbe(spark, dir.getAbsolutePath, queries,
          k = 3, targetRecall = 1.0))
      val refineK = corpus.count().toInt
      Similarity.ivfPqBuild(corpus, pqDir.getAbsolutePath, nList = 4,
        m = 4, nCodes = 8, kmeansMaxIter = 2)
      val hPq = Similarity.ivfPqIndexHealth(spark, pqDir.getAbsolutePath,
        queries, corpus, k = 3, nProbe = 4, refineK = refineK,
        suggestTargetRecall = Some(1.0)).head()
      assert(Similarity.ivfPqSuggestNProbe(spark, pqDir.getAbsolutePath,
        queries, corpus, k = 3, refineK = refineK, targetRecall = 1.0)
        .contains(hPq.getAs[Int]("suggested_n_probe")))
      // unreachable target -> NULL in the health row (plus the tuner's
      // warning), never an implied-sufficient budget
      val hUnreach = Similarity.ivfPqIndexHealth(spark,
        pqDir.getAbsolutePath, queries, corpus, k = 3, nProbe = 4,
        refineK = 1, suggestTargetRecall = Some(1.0)).head()
      assert(hUnreach.isNullAt(hUnreach.fieldIndex("suggested_n_probe")))
    } finally {
      graft.util.TempDirs.deleteRecursively(dir)
      graft.util.TempDirs.deleteRecursively(pqDir)
    }
  }

  test("plan+apply drive the decay loop: healthy -> none, decayed " +
    "recall -> rebuild, fragmentation alone -> compact, applied " +
    "actions return the plan to none") {
    import spark.implicits._
    val dim = 8
    def jitter(i: Int, j: Int, s: Double): Double =
      math.sin(i * 31 + j * 7) * s
    // same drift construction as the decay spec: base mass at (0, +-5),
    // drifted mass at x=10 straddling the stale Voronoi boundary
    val aRows = (0 until 200).map { i =>
      val cy = if (i % 2 == 0) 5.0 else -5.0
      (i.toLong, Array.tabulate(dim) { j =>
        (if (j == 1) cy else 0.0) + jitter(i, j, 0.3)
      })
    }
    def bRow(i: Int): (Long, Array[Double]) =
      (1000L + i, Array.tabulate(dim) { j =>
        (if (j == 0) 10.0
         else if (j == 1) (if (i % 2 == 0) 0.2 else -0.2)
         else 0.0) + (if (j <= 1) 0.0 else jitter(i + 977, j, 0.4))
      })
    val qA = (0 until 6).map { i =>
      (i.toLong, Array.tabulate(dim) { j =>
        (if (j == 1) 5.0 else 0.0) + jitter(i + 211, j, 0.3)
      })
    }.toDF("qid", "qv")
    val qB = (0 until 6).map { i =>
      (i.toLong, Array.tabulate(dim) { j =>
        (if (j == 0) 10.0 else if (j == 1) 0.0
         else jitter(i + 4099, j, 0.4))
      })
    }.toDF("qid", "qv")
    val dir = java.nio.file.Files.createTempDirectory("ivfplan").toFile
    val root = dir.getAbsolutePath
    def action(q: org.apache.spark.sql.DataFrame): String =
      Similarity.indexMaintenancePlan(
        Similarity.ivfIndexHealth(spark, root, q, k = 10, nProbe = 1),
        recallFloor = 0.8, maxFilesPerListCeiling = 1)
        .head().getAs[String]("action")
    try {
      Similarity.ivfBuild(aRows.toDF("id", "v"), root, nList = 2,
        kmeansMaxIter = 5)
      // healthy: build layout is one file per list, pre-drift recall
      // is above the floor
      assert(action(qA) == "none")
      (0 until 3).foreach { b =>
        Similarity.ivfAppend(spark, root,
          (b * 100 until (b + 1) * 100).map(bRow).toDF("id", "v"))
      }
      // drift decayed the monitored recall below the floor: rebuild
      // outranks the fragmentation the appends also caused (compaction
      // alone cannot recover centroid drift)
      assert(action(qB) == "rebuild")
      // apply EXECUTES the planned action (layout sniffed from the
      // manifest) and the loop closes: the next plan reads none
      Similarity.indexMaintenanceApply(spark, root, "rebuild",
        kmeansMaxIter = 5)
      assert(action(qB) == "none")
      // fragmentation ALONE: one more batch of the (now well-covered)
      // drifted mass keeps recall healthy but splits hit lists across
      // files -> compact, and compaction returns the plan to none
      Similarity.ivfAppend(spark, root,
        (300 until 400).map(bRow).toDF("id", "v"))
      assert(action(qB) == "compact")
      Similarity.indexMaintenanceApply(spark, root, "compact")
      assert(action(qB) == "none")
      Similarity.indexMaintenanceApply(spark, root, "none") // no-op
      assert(action(qB) == "none")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("indexMaintenanceApply on a PQ index: compact works, rebuild " +
    "demands the embedding store") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivfpqapply").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfPqBuild(corpus, root, nList = 4, m = 4, nCodes = 8,
        kmeansMaxIter = 2)
      Similarity.indexMaintenanceApply(spark, root, "compact")
      assert(Manifest.snapshot(spark, root).version == 1)
      // codes cannot reconstruct vectors: a corpus-less PQ rebuild must
      // refuse rather than silently downgrade to a compaction
      intercept[IllegalArgumentException] {
        Similarity.indexMaintenanceApply(spark, root, "rebuild")
      }
      Similarity.indexMaintenanceApply(spark, root, "rebuild",
        corpus = Some(corpus), kmeansMaxIter = 2)
      assert(Manifest.snapshot(spark, root).version == 2)
      val want = annPairs(Similarity.bruteForce(queries, corpus, 3))
      assert(annPairs(Similarity.ivfPqQuery(spark, root, queries, corpus,
        k = 3, nProbe = 4, refineK = 100000)) == want)
      intercept[IllegalArgumentException] {
        Similarity.indexMaintenanceApply(spark, root, "defragment")
      }
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("Manifest.publish enforces the single-writer lock: the loser " +
    "throws before touching live state and orphans nothing") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivflock").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfBuild(corpus, root, nList = 4, kmeansMaxIter = 2)
      Similarity.ivfCompact(spark, root) // publish v1
      val want = annPairs(Similarity.bruteForce(queries, corpus, 3))
      // a concurrent writer holds the lock
      assert(new java.io.File(dir, "_writer.lock").createNewFile())
      val e = intercept[IllegalStateException] {
        Similarity.ivfCompact(spark, root)
      }
      assert(e.getMessage.contains("_writer.lock"))
      // loser failed BEFORE touching live state: same manifest version,
      // probe still exhaustive-exact
      assert(Manifest.snapshot(spark, root).version == 1)
      assert(annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4)) == want)
      // crashed-writer recovery: break the lock and retry
      Manifest.breakLock(spark, root)
      Similarity.ivfCompact(spark, root)
      assert(Manifest.snapshot(spark, root).version == 2)
      assert(annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4)) == want)
      // a successful publish releases the lock, reclaims the loser's
      // tmp, and retains exactly the live + grace versions
      val names = dir.listFiles().map(_.getName).toSet
      assert(!names.contains("_writer.lock"))
      assert(!names.contains("_compact.tmp.postings"), names.toString)
      assert(names.filter(_.matches(""".+\.parquet\.v\d+""")) ==
        Set("postings.parquet.v1", "postings.parquet.v2"), names.toString)
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("a crash between a publish's rename and its manifest write " +
    "leaves an orphan versioned dir: the next publish reclaims it and " +
    "readers never saw it") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivforphan").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfBuild(corpus, root, nList = 4, kmeansMaxIter = 2)
      val want = annPairs(Similarity.bruteForce(queries, corpus, 3))
      // simulate the crash window: the doomed writer renamed its tmp to
      // the NEXT version name (v1), died before creating _manifest.v1,
      // and leaked its lock. No manifest references v1, so readers
      // still resolve the unversioned default.
      val orphan = new java.io.File(dir, "postings.parquet.v1")
      assert(orphan.mkdir())
      java.nio.file.Files.writeString(
        new java.io.File(orphan, "garbage.parquet").toPath, "not parquet")
      assert(new java.io.File(dir, "_writer.lock").createNewFile())
      assert(Manifest.snapshot(spark, root).version == 0)
      assert(annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4)) == want)
      // operator recovery: clear the crashed lock, re-run the publish —
      // the orphan at the version name is deleted, never merged into
      // the new physical directory
      Manifest.breakLock(spark, root)
      Similarity.ivfCompact(spark, root)
      assert(Manifest.snapshot(spark, root).version == 1)
      assert(annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4)) == want)
      assert(!new java.io.File(orphan, "garbage.parquet").exists(),
        "the orphan's contents must be reclaimed, not merged")
      assert(!new java.io.File(dir, "_writer.lock").exists())
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("streaming ingest interleaves with a compaction between " +
    "micro-batches: every ingested row survives the manifest flip, " +
    "no orphan dirs, no leaked lock") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivfingcomp").toFile
    val root = dir.getAbsolutePath
    val stage = java.nio.file.Files.createTempDirectory("ivfingcompst")
      .toFile
    try {
      val base = corpus.filter(col("id") % 2 === 0)
      val delta = corpus.filter(col("id") % 2 =!= 0)
      Similarity.ivfBuild(base, root, nList = 4, kmeansMaxIter = 2)
      val files = stage.getAbsolutePath + "/files"
      val ckpt = stage.getAbsolutePath + "/ckpt"
      delta.filter(col("id") % 4 === 1).coalesce(1)
        .write.mode("append").parquet(files)
      val q = Similarity.ivfIngest(
        spark.readStream.schema(delta.schema)
          .option("maxFilesPerTrigger", "1").parquet(files),
        root, ckpt)
      try {
        q.processAllAvailable()
        // a compaction lands while the stream is idle: the manifest
        // flips the postings to a fresh versioned directory
        Similarity.ivfCompact(spark, root)
        assert(Manifest.snapshot(spark, root).version == 1)
        // the next micro-batch must resolve the NEW snapshot — an
        // append into the superseded directory would be GC'd later
        delta.filter(col("id") % 4 === 3).coalesce(1)
          .write.mode("append").parquet(files)
        q.processAllAvailable()
      } finally q.stop()
      val snap = Manifest.snapshot(spark, root)
      val postings = spark.read.parquet(snap.path("postings"))
      assert(postings.count() == corpus.count())
      assert(postings.select("id").distinct().count() == corpus.count())
      assert(annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4)) ==
        annPairs(Similarity.bruteForce(queries, corpus, 3)))
      val names = dir.listFiles().map(_.getName).toSet
      assert(!names.contains("_writer.lock"), names.toString)
      assert(!names.exists(_.startsWith("_compact.tmp")), names.toString)
      assert(names.filter(_.matches(""".+\.parquet\.v\d+""")) ==
        Set("postings.parquet.v1"), names.toString)
    } finally {
      graft.util.TempDirs.deleteRecursively(dir)
      graft.util.TempDirs.deleteRecursively(stage)
    }
  }

  test("a micro-batch colliding with a held writer lock fails the " +
    "stream loudly (no partial append); checkpoint restart replays it " +
    "with no loss and no duplication") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivfinglock").toFile
    val root = dir.getAbsolutePath
    val stage = java.nio.file.Files.createTempDirectory("ivfinglockst")
      .toFile
    try {
      val base = corpus.filter(col("id") % 2 === 0)
      val delta = corpus.filter(col("id") % 2 =!= 0)
      Similarity.ivfBuild(base, root, nList = 4, kmeansMaxIter = 2)
      val files = stage.getAbsolutePath + "/files"
      val ckpt = stage.getAbsolutePath + "/ckpt"
      delta.coalesce(1).write.mode("append").parquet(files)
      // a compaction (or crashed writer) holds the lock when the
      // micro-batch arrives
      assert(new java.io.File(dir, "_writer.lock").createNewFile())
      def ingest() = Similarity.ivfIngest(
        spark.readStream.schema(delta.schema)
          .option("maxFilesPerTrigger", "1").parquet(files),
        root, ckpt)
      val q = ingest()
      val e = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      q.stop()
      def messages(t: Throwable): Seq[String] =
        Iterator.iterate(t: Throwable)(_.getCause).takeWhile(_ != null)
          .map(c => Option(c.getMessage).getOrElse("")).toSeq
      assert(messages(e).exists(_.contains("_writer.lock")),
        messages(e).mkString(" | "))
      // the losing batch appended NOTHING (the lock precedes any write)
      val snap0 = Manifest.snapshot(spark, root)
      assert(spark.read.parquet(snap0.path("postings")).count() ==
        base.count())
      // operator clears the crashed lock; the restarted query replays
      // the failed batch from the checkpoint — at-least-once with no
      // partial append means exactly-once here
      Manifest.breakLock(spark, root)
      val q2 = ingest()
      try q2.processAllAvailable() finally q2.stop()
      val snap = Manifest.snapshot(spark, root)
      val postings = spark.read.parquet(snap.path("postings"))
      assert(postings.count() == corpus.count())
      assert(postings.select("id").distinct().count() == corpus.count())
      assert(annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4)) ==
        annPairs(Similarity.bruteForce(queries, corpus, 3)))
    } finally {
      graft.util.TempDirs.deleteRecursively(dir)
      graft.util.TempDirs.deleteRecursively(stage)
    }
  }

  test("boundedSample large-cap path (sizes + window over oversized " +
    "groups only) ranks by the same key as the bounded-heap path") {
    import spark.implicits._
    val df = ((1 to 9000).map(i => ("hot", i.toLong)) ++
      (1 to 500).map(i => ("cold", 100000L + i)))
      .toDF("g", "uid").repartition(8)
    def keptUids(cap: Int) = GroupedSampling
      .boundedSample(df, Seq("g"), Seq("uid"), cap)
      .filter(col("g") === "hot")
      .select("uid").as[Long].collect().toSet
    // 4096 rides the heap aggregate, 4097 the sizes+window path; both
    // keep the cap smallest deterministic keys, so the heap selection
    // must be a strict prefix-subset of the window selection
    val heap = keptUids(4096)
    val window = keptUids(4097)
    assert(heap.size == 4096 && window.size == 4097)
    assert(heap.subsetOf(window),
      "the two cap regimes must rank by the same deterministic key")
    // under-cap groups pass whole with scale 1; oversized groups carry
    // the n/cap rescale
    val out = GroupedSampling.boundedSample(df, Seq("g"), Seq("uid"), 4097)
    val byG = out.groupBy("g").agg(count(lit(1)).as("n"),
      min(col("weight_scale")).as("lo"), max(col("weight_scale")).as("hi"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(byG("cold") == ((500L, 1.0, 1.0)))
    assert(byG("hot")._1 == 4097L &&
      math.abs(byG("hot")._2 - 9000.0 / 4097) < 1e-12 &&
      byG("hot")._2 == byG("hot")._3)
    // keepGroupSize still reports the PRE-cap count in the window path
    val sized = GroupedSampling.boundedSample(df, Seq("g"), Seq("uid"),
      4097, keepGroupSize = true)
    assert(sized.filter(col("g") === "hot")
      .select("group_size").distinct().as[Long].collect().toSeq == Seq(9000L))
  }

  test("ivfDelete: retracted ids leave results immediately, recall " +
    "stays exact-relative-to-live, compaction folds the tombstones " +
    "physically") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("ivfdel").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfBuild(corpus, root, nList = 4, kmeansMaxIter = 2)
      // pin the doomed set by VALUE (a bare limit() could re-resolve to
      // different rows between the delete and the live-side filter)
      val doomed = corpus.select("id").orderBy("id").limit(3)
        .collect().map(_.getLong(0)).toSet
      import spark.implicits._
      val doomedIds = doomed.toSeq.sorted.toDF("id")
      val live = corpus.filter(!col("id").isInCollection(doomed))
      Similarity.ivfDelete(spark, root, doomedIds)
      // probe-all equals brute force over the LIVE corpus only
      assert(annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4)) ==
        annPairs(Similarity.bruteForce(queries, live, 3)))
      // the recall probe's exact side is live-filtered too
      assert(Similarity.ivfRecallProbe(spark, root, queries, 3, 4) == 1.0)
      // delete replay is idempotent: pending stays at |doomed|
      Similarity.ivfDelete(spark, root, doomedIds)
      def pending() = Similarity.ivfIndexHealth(spark, root, queries,
        k = 3, nProbe = 4).head().getAs[Long]("deleted_pending")
      assert(pending() == 3L)
      // compaction folds: rows physically gone, debt cleared, results
      // unchanged
      Similarity.ivfCompact(spark, root)
      assert(pending() == 0L)
      val snap = Manifest.snapshot(spark, root)
      val ids = spark.read.parquet(snap.path("postings"))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(ids.intersect(doomed).isEmpty,
        "folded postings must not carry retracted ids")
      assert(annPairs(Similarity.ivfQuery(spark, root, queries,
        k = 3, nProbe = 4)) ==
        annPairs(Similarity.bruteForce(queries, live, 3)))
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("ivfDelete on the PQ layout: probes silent immediately; a " +
    "rebuild from the embedding store cannot resurrect deleted ids") {
    val (queries, corpus) = annFixture()
    val dir = java.nio.file.Files.createTempDirectory("pqdel").toFile
    val root = dir.getAbsolutePath
    try {
      Similarity.ivfPqBuild(corpus, root, nList = 4, m = 4, nCodes = 16,
        kmeansMaxIter = 2)
      val doomed = corpus.select("id").orderBy("id").limit(3)
        .collect().map(_.getLong(0)).toSet
      import spark.implicits._
      val doomedIds = doomed.toSeq.sorted.toDF("id")
      val live = corpus.filter(!col("id").isInCollection(doomed))
      Similarity.ivfDelete(spark, root, doomedIds)
      // probe-all + refine-all equals brute force over the LIVE corpus
      val nCorpus = corpus.count().toInt
      assert(annPairs(Similarity.ivfPqQuery(spark, root, queries, corpus,
        k = 3, nProbe = 4, refineK = nCorpus)) ==
        annPairs(Similarity.bruteForce(queries, live, 3)))
      // the rebuild is handed the FULL embedding store (still carrying
      // the deleted ids) — the fold must filter them out
      Similarity.ivfPqRebuild(spark, root, corpus)
      val snap = Manifest.snapshot(spark, root)
      val ids = spark.read.parquet(snap.path("codes"))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(ids.intersect(doomed).isEmpty,
        "rebuild must not re-encode retracted ids")
      assert(annPairs(Similarity.ivfPqQuery(spark, root, queries, corpus,
        k = 3, nProbe = 4, refineK = nCorpus)) ==
        annPairs(Similarity.bruteForce(queries, live, 3)))
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("index deletes respect the writer lock (loser throws before " +
    "touching state) and a fresh build clears stale tombstones") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "one two three"))
      .toDF("id", "text").repartition(1)
    val dir = java.nio.file.Files.createTempDirectory("delock").toFile
    val root = dir.getAbsolutePath
    try {
      Dedup.exactIndexBuild(docs, root, "id", "text")
      // a held writer lock fails the delete loudly, nothing appended
      Manifest.withLock(spark, root) {
        val e = intercept[IllegalStateException] {
          Dedup.exactIndexDelete(spark, root, docs, "id", "text")
        }
        assert(e.getMessage.contains("another writer"))
      }
      assert(Dedup.exactIndexHealth(spark, root)
        .head().getAs[Long]("deleted_pending") == 0L)
      // delete doc 1, then REBUILD in place: the fresh index must not
      // inherit the old generation's retraction debt
      Dedup.exactIndexDelete(spark, root,
        docs.filter(col("id") === 1L), "id", "text")
      assert(Dedup.exactIndexHealth(spark, root)
        .head().getAs[Long]("deleted_pending") == 1L)
      Dedup.exactIndexBuild(docs, root, "id", "text")
      assert(Dedup.exactIndexHealth(spark, root)
        .head().getAs[Long]("deleted_pending") == 0L)
      val probe = Dedup.exactIndexProbe(spark, root,
        Seq((10L, "alpha beta gamma")).toDF("id", "text"), "id", "text")
        .head()
      assert(probe.getAs[Boolean]("is_dup"),
        "fresh build must resolve with no stale tombstone filtering")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("tombstones are key-level: a re-appended deleted key stays " +
    "shadowed until the fold, then re-admits cleanly") {
    import spark.implicits._
    val doc = Seq((1L, "alpha beta gamma")).toDF("id", "text")
    val probeDoc = Seq((9L, "alpha beta gamma")).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("readd").toFile
    val root = dir.getAbsolutePath
    try {
      Dedup.exactIndexBuild(doc, root, "id", "text")
      def isDup() = Dedup.exactIndexProbe(spark, root, probeDoc, "id",
        "text").head().getAs[Boolean]("is_dup")
      assert(isDup())
      Dedup.exactIndexDelete(spark, root, doc, "id", "text")
      assert(!isDup())
      // append-supersedes-delete (the log-structured ordering): a
      // re-append of a pending-deleted key prunes the tombstone in
      // the same locked span, so the key is visible IMMEDIATELY, no
      // residual debt remains, and the fold cannot silently drop the
      // re-added row (the divergence ErasureLifecycleSpec pins end to
      // end)
      Dedup.exactIndexAppend(spark, root, doc, "id", "text")
      assert(isDup(), "re-append supersedes the pending delete")
      assert(Dedup.exactIndexHealth(spark, root)
        .head().getAs[Long]("deleted_pending") == 0L)
      Dedup.exactIndexCompact(spark, root)
      assert(isDup(), "the fold keeps the re-appended row")
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }

  test("fleetDelete dispatches per family with row isolation: exact " +
    "without text and decontam report skipped, unknown dirs cannot " +
    "abort the fleet") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma one two"),
      (2L, "six seven eight nine ten")).toDF("id", "text")
    val doomed = Seq((1L, "alpha beta gamma one two")).toDF("id", "text")
    val dirs = Seq("fd_ex", "fd_sh", "fd_dc", "fd_un")
      .map(p => java.nio.file.Files.createTempDirectory(p).toFile)
    try {
      val Seq(exDir, shDir, dcDir, unDir) = dirs.map(_.getAbsolutePath)
      Dedup.exactIndexBuild(docs, exDir, "id", "text")
      Dedup.simhashIndexBuild(docs, shDir, "id", "text")
      Decontamination.decontamIndexBuild(docs, dcDir, "text", n = 3)
      def statuses(textCol: Option[String]) =
        Similarity.fleetDelete(spark, Seq(exDir, shDir, dcDir, unDir),
          doomed, "id", textCol)
          .select("family", "status").as[(String, String)]
          .collect().toMap
      // without text: the content-keyed exact family is skipped, the
      // id-keyed one executes, decontam/unknown are skipped — and the
      // one skip does not stop the rest (row isolation)
      val s1 = statuses(None)
      assert(s1 == Map("exact" -> "skipped", "simhash" -> "executed",
        "decontam" -> "skipped", "unknown" -> "skipped"), s1.toString)
      // with text everything doc-keyed-or-content-keyed executes
      val s2 = statuses(Some("text"))
      assert(s2("exact") == "executed" && s2("simhash") == "executed")
      assert(Dedup.exactIndexProbe(spark, exDir, doomed, "id", "text")
        .head().getAs[Boolean]("is_dup") == false)
      assert(Dedup.exactIndexHealth(spark, exDir)
        .head().getAs[Long]("deleted_pending") == 1L)
    } finally dirs.foreach(graft.util.TempDirs.deleteRecursively)
  }

  test("semDedupStateDelete: retracted base ids stop pairing in the " +
    "persisted incremental probe; compaction folds them") {
    import spark.implicits._
    def vv(c: Double) = Seq(c, c + 0.001)
    val base = Seq((0L, vv(1.0)), (1L, vv(1.0)), (2L, vv(-5.0)))
      .toDF("id", "vec")
    val batch = Seq((10L, vv(1.0))).toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("semdel").toFile
    val root = dir.getAbsolutePath
    try {
      val (labels, cents) = Clustering.kmeansWithCentroids(base, "id",
        "vec", k = 2, iterations = 2)
      Clustering.semDedupStateSave(spark, root, labels, "id", cents)
      Clustering.releasePairs(labels)
      def pairs() = {
        val p = Clustering.semDedupIncrementalPersisted(spark, root,
          base, batch, "id", "vec", tau = 0.99)
        val got = p.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        Clustering.releasePairs(p)
        got
      }
      assert(pairs() == Set((0L, 10L), (1L, 10L)))
      Clustering.semDedupStateDelete(spark, root,
        Seq(1L).toDF("id"))
      assert(pairs() == Set((0L, 10L)))
      assert(Clustering.semDedupStateHealth(spark, root)
        .head().getAs[Long]("deleted_pending") == 1L)
      Clustering.semDedupStateCompact(spark, root)
      assert(Clustering.semDedupStateHealth(spark, root)
        .head().getAs[Long]("deleted_pending") == 0L)
      val snap = Manifest.snapshot(spark, root)
      assert(spark.read.parquet(snap.path("labels"))
        .filter(col("id") === 1L).count() == 0L,
        "folded labels must not carry the retracted id")
      assert(pairs() == Set((0L, 10L)))
    } finally graft.util.TempDirs.deleteRecursively(dir)
  }
}
