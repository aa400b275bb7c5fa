package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Clustering, Dedup, Similarity}

/** Seeded corpus: word-Zipf documents where every tenth document is a
  * planted near-duplicate (3% of tokens replaced) of an earlier original,
  * and 64-dim embeddings in tight clusters of ~30, so each vector's ten
  * nearest neighbours are clear-cut. */
final case class CorpusGen(seed: Long, vocab: Int, dim: Int, centers: Int)
  extends Serializable {

  private def words(r: SplittableRandom): Array[String] =
    Array.fill(40 + r.nextInt(40))(s"w${Gen.zipf(r, vocab, 0.9)}")

  /** Text of original document `i`, independent of what `i` is used as. */
  def original(i: Long): Array[String] = words(Gen.rng(seed, i))

  def mutate(ws: Array[String], r: SplittableRandom): String =
    ws.map(w => if (r.nextDouble() < 0.03)
      s"w${Gen.zipf(r, vocab, 0.9)}" else w).mkString(" ")

  /** Indexed document `i`: ids ≡ 9 (mod 10) are near-duplicates of an
    * earlier original, returned as the second element. */
  def doc(i: Long): (String, Long) =
    if (i % 10 == 9) {
      val r = Gen.rng(seed ^ 0x5DEECE66DL, i)
      var src = r.nextLong(i)
      while (src % 10 == 9) src = r.nextLong(i)
      (mutate(original(src), r), src)
    } else (original(i).mkString(" "), -1L)

  private def center(c: Int): Array[Double] = {
    val r = new SplittableRandom(seed * 7919L + c)
    Array.fill(dim)(r.nextGaussian())
  }
  @transient private lazy val cs = Array.tabulate(centers)(center)

  def vector(r: SplittableRandom): Array[Float] = {
    val c = cs(r.nextInt(centers))
    Array.tabulate(dim)(j => (c(j) + 0.15 * r.nextGaussian()).toFloat)
  }
  def embedding(i: Long): Array[Float] =
    vector(Gen.rng(seed + 17L, i))
}

/** Fit: Dedup.minhashIndexBuild and Similarity.ivfPqBuild over 80% of the
  * corpus, then minhashIndexAppend/ivfPqAppend batches for the rest
  * (writes). Apply: one small probe batch, Dedup.minhashIndexProbe of
  * new documents plus Similarity.ivfPqQuery of new vectors (reads),
  * cycling through a fixed pool of batches. */
final class Corpus(ctx: Ctx) extends Workload {
  private val nDocs = math.max(1000L, (12000 * ctx.scale).toLong)
  private val nVecs = math.max(1000L, (12000 * ctx.scale).toLong)
  private val dim = 64
  private val appendBatches = 1
  private val pool = 3
  private val probeDocs = 20
  private val probeQueries = 8
  private val k = 10
  private val nList = 16
  private val nProbe = 3
  private val refineK = 48
  private val shingleN = 3
  private val sigK = 8
  private val bands = 4
  private val threshold = 0.5
  private val recallFloor = 0.8
  private val plantedFloor = 0.9
  private val gen = CorpusGen(ctx.seed, vocab = 5000, dim = dim,
    centers = (nVecs / 30).toInt)
  private val spans = ctx.spans

  private var spark: SparkSession = _
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var probeBatches: IndexedSeq[DataFrame] = _
  private var queryBatches: IndexedSeq[DataFrame] = _
  /** probe batch → planted (probe id, indexed source id) pairs */
  private var planted: IndexedSeq[Seq[(Long, Long)]] = _
  /** query id → exact top-k ids (plain Scala brute force) */
  private var exact: Map[Long, Set[Long]] = Map.empty
  private var lastFit = -1
  private val found = mutable.Map.empty[Int, Set[(Long, Long)]]
  private val annFound = mutable.Map.empty[Int, Map[Long, Set[Long]]]
  private var candidates = 0L
  private var verified = 0L
  private var filesRead = 0L
  private var filesWritten = 0L

  def sizes: Seq[(String, Any)] = Seq(
    "docs" -> nDocs, "vectors" -> nVecs, "dim" -> dim,
    "append_batches" -> appendBatches, "probe_pool" -> pool,
    "probe_docs" -> probeDocs, "probe_queries" -> probeQueries, "k" -> k,
    "n_list" -> nList, "n_probe" -> nProbe, "refine_k" -> refineK,
    "sig_k" -> sigK, "bands" -> bands)
  def fitShare: Double = 0.5
  def minFits: Int = 2
  def minApplies: Int = pool
  def appliesPerCycle: Int = 2

  private def baseDocs = docs.filter(col("id") < nDocs * 4 / 5)
  private def baseVecs = vecs.filter(col("id") < nVecs * 4 / 5)
  private def batch(df: DataFrame, n: Long, b: Int): DataFrame = {
    val lo = n * 4 / 5 + (n - n * 4 / 5) * b / appendBatches
    val hi = n * 4 / 5 + (n - n * 4 / 5) * (b + 1) / appendBatches
    df.filter(col("id") >= lo && col("id") < hi)
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    import s.implicits._
    val g = gen
    val parts = s.sparkContext.defaultParallelism * 2
    docs = s.range(0L, nDocs, 1L, parts).as[Long]
      .map(i => (i, g.doc(i)._1)).toDF("id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    vecs = s.range(0L, nVecs, 1L, parts).as[Long]
      .map(i => (i, g.embedding(i).toSeq)).toDF("id", "v")
      .persist(StorageLevel.MEMORY_AND_DISK)
    docs.count(); vecs.count()
    // probe pool, built on the driver: half planted near-duplicates of
    // indexed originals, half fresh documents; queries near the centers
    val docSchema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    val qSchema = StructType(Seq(StructField("qid", LongType),
      StructField("qv", ArrayType(FloatType))))
    val built = (0 until pool).map { b =>
      val r = Gen.rng(ctx.seed + 99L, b)
      val rows = (0 until probeDocs).map { j =>
        val id = 1000000000L + b * probeDocs + j
        if (j % 2 == 0) {
          var src = r.nextLong(nDocs)
          while (src % 10 == 9) src = r.nextLong(nDocs)
          (Row(id, gen.mutate(gen.original(src), r)), Some((id, src)))
        } else (Row(id, gen.original(id).mkString(" ")), None)
      }
      val qs = (0 until probeQueries).map { j =>
        Row(b.toLong * probeQueries + j, gen.vector(r).toSeq)
      }
      (s.createDataFrame(java.util.Arrays.asList(rows.map(_._1): _*),
        docSchema),
        rows.flatMap(_._2),
        s.createDataFrame(java.util.Arrays.asList(qs: _*), qSchema))
    }
    probeBatches = built.map(_._1)
    planted = built.map(_._2)
    queryBatches = built.map(_._3)
  }

  def release(): Unit = { docs.unpersist(true); vecs.unpersist(true) }

  def inputHash(): String =
    Seq(docs, vecs).map(Hashing.frame).mkString("+") + "+" +
      Hashing.frame((probeBatches ++ queryBatches.map(_.toDF("id", "v")
        .select(col("id"), col("v").cast("string").as("text"))))
        .reduce(_ unionAll _))

  /** Exact cosine top-k of every pool query, by brute force on the
    * driver, independent of the library. */
  override def prepare(): Unit = {
    val all = vecs.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).map(_.toDouble).toArray))
    val normed = all.map { case (id, v) =>
      val n = math.sqrt(v.map(x => x * x).sum); (id, v.map(_ / n)) }
    exact = queryBatches.flatMap(_.collect()).map { q =>
      val qv = q.getSeq[Float](1).map(_.toDouble).toArray
      val top = new java.util.PriorityQueue[(Double, Long)](
        Ordering[(Double, Long)].reverse)
      normed.foreach { case (id, v) =>
        var d = 0.0; var j = 0
        while (j < dim) { d += v(j) * qv(j); j += 1 }
        top.add((-d, id))
        if (top.size > k) top.poll()
      }
      q.getLong(0) -> top.asScala.map(_._2).toSet
    }.toMap
  }

  private def countFiles(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(p => java.nio.file.Files.isRegularFile(p) &&
      p.getFileName.toString.startsWith("part-")).count()
    finally s.close()
  }

  /** Files the physical plan's scans read (after partition pruning). */
  private def scanFiles(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
    case q: QueryStageExec => scanFiles(q.plan)
    case f: FileSourceScanExec =>
      f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => (other.children ++ other.subqueries).map(scanFiles).sum
  }

  def fit(i: Int): Unit = {
    val dirM = s"${ctx.root}/idx/$i/minhash"
    val dirA = s"${ctx.root}/idx/$i/ivfpq"
    spans("operators.dedup", "Dedup.minhashIndexBuild") {
      Dedup.minhashIndexBuild(baseDocs, dirM, "id", "text", shingleN, sigK,
        bands)
    }
    spans("operators.ann", "Similarity.ivfPqBuild") {
      Similarity.ivfPqBuild(baseVecs, dirA, nList = nList, m = 8,
        nCodes = 16, trainFraction = 0.5, seed = ctx.seed,
        kmeansMaxIter = 10)
    }
    for (b <- 0 until appendBatches) {
      spans("operators.dedup", "Dedup.minhashIndexAppend") {
        Dedup.minhashIndexAppend(spark, dirM, batch(docs, nDocs, b), "id",
          "text")
      }
      spans("operators.ann", "Similarity.ivfPqAppend") {
        Similarity.ivfPqAppend(spark, dirA, batch(vecs, nVecs, b))
      }
    }
    if (ctx.tracing) filesWritten += countFiles(dirA)
    lastFit = i
  }

  def apply(i: Int): Unit = {
    val b = i % pool
    val dirM = s"${ctx.root}/idx/$lastFit/minhash"
    val dirA = s"${ctx.root}/idx/$lastFit/ivfpq"
    val pairs = spans("operators.dedup", "Dedup.minhashIndexProbe") {
      val p = Dedup.minhashIndexProbe(spark, dirM, probeBatches(b), docs,
        "id", "text", threshold)
      val rows = p.collect()
      Clustering.releasePairs(p)
      rows
    }
    val nn = spans("operators.ann", "Similarity.ivfPqQuery") {
      val q = Similarity.ivfPqQuery(spark, dirA, queryBatches(b), vecs, k,
        nProbe, refineK)
      val rows = q.collect()
      if (ctx.tracing) filesRead += scanFiles(q.queryExecution.executedPlan)
      rows
    }
    if (!found.contains(b)) {
      found(b) = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
      annFound(b) = nn.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    }
    if (ctx.tracing) spans("harness", "candidate count") {
      // threshold 0 keeps every LSH candidate: verified / candidates is
      // the probe's useful-work ratio
      val all = Dedup.minhashIndexProbe(spark, dirM, probeBatches(b), docs,
        "id", "text", 0.0)
      candidates += all.count()
      Clustering.releasePairs(all)
      verified += pairs.length
    }
  }

  private def recallAtK: Double = {
    val qs = annFound.toSeq.flatMap(_._2.toSeq)
    if (qs.isEmpty) 0.0
    else qs.map { case (q, ids) =>
      (ids intersect exact(q)).size.toDouble / k }.sum / qs.size
  }

  def quality: Double = recallAtK

  def checks(): Seq[(String, Boolean, String)] = {
    val dirM = s"${ctx.root}/idx/$lastFit/minhash"
    val dirA = s"${ctx.root}/idx/$lastFit/ivfpq"
    val mh = Dedup.minhashIndexHealth(spark, dirM).head()
    val mhRows = mh.getAs[Long]("distinct_rows")
    val pq = Similarity.ivfIndexHealthLight(spark, dirA).head()
    val pqRows = pq.getAs[Long]("total_rows")
    val want = found.keys.toSeq.flatMap(planted(_))
    val hit = want.count { case (p, s) => found.values.exists(_((p, s))) }
    val plantedRecall = if (want.isEmpty) 0.0 else hit.toDouble / want.size
    val recall = recallAtK
    Seq(
      ("minhash_index_rows", mhRows == nDocs * bands,
        s"$mhRows banded rows for $nDocs docs x $bands bands"),
      ("ivfpq_index_rows", pqRows == nVecs,
        s"$pqRows codes for $nVecs vectors"),
      ("planted_dup_recall", plantedRecall >= plantedFloor,
        f"$hit/${want.size} planted pairs found = $plantedRecall%.4f " +
          s">= $plantedFloor"),
      ("recall_at_10", recall >= recallFloor,
        f"recall@$k $recall%.4f over ${annFound.values.map(_.size).sum}" +
          s" queries >= $recallFloor"))
  }

  def counters(): Seq[(String, Double)] = Seq(
    "operators.dedup.candidate_pairs" -> candidates.toDouble,
    "operators.dedup.verified_pairs" -> verified.toDouble,
    "operators.ann.files_read" -> filesRead.toDouble,
    "operators.ann.files_written" -> filesWritten.toDouble)
}
