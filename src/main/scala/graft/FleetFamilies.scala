package graft

import graft.operators.{Clustering, Decontamination, Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One persisted index family as the fleet queries drive it: the build
  * over a planted frame, append, delete, compact, health row and the
  * probe rows that report a planted doc, with the family's parameters
  * as fields. `kind` names the frame the family indexes. */
private[graft] sealed trait FleetFamily {
  /** The tag the fleet verbs report for this family. */
  def name: String
  def kind: FleetFamily.Kind
  /** Retraction by document id; the decontam index is keyed by shingle
    * content, so a fleet delete skips or rebuilds it. */
  def docKeyed: Boolean = true
  def idCol: String = "id"
  def build(s: SparkSession, rows: DataFrame, dir: String): Unit
  def append(s: SparkSession, dir: String, rows: DataFrame,
             batchId: Option[String] = None): Unit
  def delete(s: SparkSession, dir: String, doomed: DataFrame): Unit
  def compact(s: SparkSession, dir: String): Unit
  def health(s: SparkSession, dir: String): DataFrame
  /** The rows of a probe with `p.probe` that report the planted doc. */
  def hits(s: SparkSession, dir: String, p: Planted): DataFrame

  /** The fragmented build: the rows with id below `head` in one build,
    * then each id in [head, end) appended on its own, one fragment
    * each. */
  final def buildFragmented(s: SparkSession, rows: DataFrame, dir: String,
                            head: Long, end: Long): Unit = {
    build(s, rows.filter(col(idCol) < head), dir)
    (head until end).foreach(i =>
      append(s, dir, rows.filter(col(idCol) === i)))
  }
}

/** A planted doc to probe for: the probe rows ((id, text) docs or
  * (qid, qv) queries), the planted id whose hits count, and the indexed
  * rows a MinHash verify or an IVF-PQ refine reads. */
private[graft] final case class Planted(probe: DataFrame, id: Long,
                                        indexed: DataFrame)

/** The seven families. Text families index (idCol, text) rows, vector
  * families (id, v) float vectors, SemDeDup (idCol, vecCol) embeddings
  * clustered at `k`. Defaults are the library verbs' defaults. */
private[graft] object FleetFamily {
  sealed trait Kind
  case object Texts extends Kind
  case object Vectors extends Kind
  case object Embeddings extends Kind

  final case class Exact(override val idCol: String = "id")
      extends FleetFamily {
    val name = "exact"; val kind = Texts
    def build(s: SparkSession, rows: DataFrame, dir: String): Unit =
      Dedup.exactIndexBuild(rows, dir, idCol, "text")
    def append(s: SparkSession, dir: String, rows: DataFrame,
               batchId: Option[String]): Unit =
      Dedup.exactIndexAppend(s, dir, rows, idCol, "text", batchId)
    def delete(s: SparkSession, dir: String, doomed: DataFrame): Unit =
      Dedup.exactIndexDelete(s, dir, doomed, idCol, "text")
    def compact(s: SparkSession, dir: String): Unit =
      Dedup.exactIndexCompact(s, dir)
    def health(s: SparkSession, dir: String): DataFrame =
      Dedup.exactIndexHealth(s, dir)
    def hits(s: SparkSession, dir: String, p: Planted): DataFrame =
      Dedup.exactIndexProbe(s, dir, p.probe, idCol, "text")
        .filter(col("is_dup"))
  }

  final case class MinHash(override val idCol: String = "id",
                           hotBucketCap: Int = 10000) extends FleetFamily {
    val name = "minhash"; val kind = Texts
    def build(s: SparkSession, rows: DataFrame, dir: String): Unit =
      Dedup.minhashIndexBuild(rows, dir, idCol, "text")
    def append(s: SparkSession, dir: String, rows: DataFrame,
               batchId: Option[String]): Unit =
      Dedup.minhashIndexAppend(s, dir, rows, idCol, "text", batchId)
    def delete(s: SparkSession, dir: String, doomed: DataFrame): Unit =
      Dedup.minhashIndexDelete(s, dir, doomed.select(idCol), idCol)
    def compact(s: SparkSession, dir: String): Unit =
      Dedup.minhashIndexCompact(s, dir)
    def health(s: SparkSession, dir: String): DataFrame =
      Dedup.minhashIndexHealth(s, dir, hotBucketCap)
    def hits(s: SparkSession, dir: String, p: Planted): DataFrame =
      Dedup.minhashIndexProbe(s, dir, p.probe, p.indexed, idCol, "text")
        .filter(col("base_id") === p.id)
  }

  final case class SimHash(override val idCol: String = "id",
                           hotBucketCap: Int = 10000) extends FleetFamily {
    val name = "simhash"; val kind = Texts
    def build(s: SparkSession, rows: DataFrame, dir: String): Unit =
      Dedup.simhashIndexBuild(rows, dir, idCol, "text")
    def append(s: SparkSession, dir: String, rows: DataFrame,
               batchId: Option[String]): Unit =
      Dedup.simhashIndexAppend(s, dir, rows, idCol, "text", batchId)
    def delete(s: SparkSession, dir: String, doomed: DataFrame): Unit =
      Dedup.simhashIndexDelete(s, dir, doomed.select(idCol), idCol)
    def compact(s: SparkSession, dir: String): Unit =
      Dedup.simhashIndexCompact(s, dir)
    def health(s: SparkSession, dir: String): DataFrame =
      Dedup.simhashIndexHealth(s, dir, hotBucketCap)
    /** `maxHamming` 0: a planted probe is an exact copy. */
    def hits(s: SparkSession, dir: String, p: Planted): DataFrame =
      Dedup.simhashIndexProbe(s, dir, p.probe, idCol, "text", maxHamming = 0)
        .filter(col("base_id") === p.id)
  }

  /** `health` is the recall-free light row; `probeK`/`nProbe` size the
    * hit probe. */
  final case class Ivf(nList: Int = 16, kmeansMaxIter: Int = 20,
                       probeK: Int = 1, nProbe: Int = 2)
      extends FleetFamily {
    val name = "ivf"; val kind = Vectors
    def build(s: SparkSession, rows: DataFrame, dir: String): Unit =
      Similarity.ivfBuild(rows, dir, nList = nList,
        kmeansMaxIter = kmeansMaxIter)
    def append(s: SparkSession, dir: String, rows: DataFrame,
               batchId: Option[String]): Unit =
      Similarity.ivfAppend(s, dir, rows, batchId)
    def delete(s: SparkSession, dir: String, doomed: DataFrame): Unit =
      Similarity.ivfDelete(s, dir, doomed.select("id"))
    def compact(s: SparkSession, dir: String): Unit =
      Similarity.ivfCompact(s, dir)
    def health(s: SparkSession, dir: String): DataFrame =
      Similarity.ivfIndexHealthLight(s, dir)
    def hits(s: SparkSession, dir: String, p: Planted): DataFrame =
      Similarity.ivfQuery(s, dir, p.probe, probeK, nProbe)
        .filter(col("id") === p.id)
  }

  final case class IvfPq(nList: Int = 16, m: Int = 4, nCodes: Int = 16,
                         kmeansMaxIter: Int = 20) extends FleetFamily {
    val name = "ivf_pq"; val kind = Vectors
    def build(s: SparkSession, rows: DataFrame, dir: String): Unit =
      Similarity.ivfPqBuild(rows, dir, nList = nList, m = m,
        nCodes = nCodes, kmeansMaxIter = kmeansMaxIter)
    def append(s: SparkSession, dir: String, rows: DataFrame,
               batchId: Option[String]): Unit =
      Similarity.ivfPqAppend(s, dir, rows, batchId)
    def delete(s: SparkSession, dir: String, doomed: DataFrame): Unit =
      Similarity.ivfDelete(s, dir, doomed.select("id"))
    def compact(s: SparkSession, dir: String): Unit =
      Similarity.ivfPqCompact(s, dir)
    def health(s: SparkSession, dir: String): DataFrame =
      Similarity.ivfIndexHealthLight(s, dir)
    def hits(s: SparkSession, dir: String, p: Planted): DataFrame =
      Similarity.ivfPqQuery(s, dir, p.probe, p.indexed, k = 3, nProbe = 2,
        refineK = 10).filter(col("id") === p.id)
  }

  /** The build is k-means → state save → release of the labels'
    * checkpoint; `coalesceLabels` saves the labels as one file. */
  final case class SemDeDup(k: Int, override val idCol: String = "id",
                            vecCol: String = "vec", iterations: Int = 2,
                            hotClusterCap: Long = 100000L,
                            coalesceLabels: Boolean = false)
      extends FleetFamily {
    val name = "semdedup"; val kind = Embeddings
    def build(s: SparkSession, rows: DataFrame, dir: String): Unit = {
      val (labels, centroids) = Clustering.kmeansWithCentroids(rows, idCol,
        vecCol, k, iterations)
      Clustering.semDedupStateSave(s, dir,
        if (coalesceLabels) labels.coalesce(1) else labels, idCol,
        centroids)
      Clustering.releasePairs(labels)
    }
    def append(s: SparkSession, dir: String, rows: DataFrame,
               batchId: Option[String]): Unit =
      Clustering.semDedupStateAppend(s, dir, rows, idCol, vecCol, batchId)
    def delete(s: SparkSession, dir: String, doomed: DataFrame): Unit =
      Clustering.semDedupStateDelete(s, dir, doomed.select(idCol), idCol)
    def compact(s: SparkSession, dir: String): Unit =
      Clustering.semDedupStateCompact(s, dir)
    def health(s: SparkSession, dir: String): DataFrame =
      Clustering.semDedupStateHealth(s, dir, hotClusterCap)
    def hits(s: SparkSession, dir: String, p: Planted): DataFrame =
      Clustering.semDedupIncrementalPersisted(s, dir, p.indexed, p.probe,
        idCol, vecCol, tau = 0.95)
        .filter(col("id_a") === p.id || col("id_b") === p.id)
  }

  /** The shingle set rewrites itself on every append, so there are no
    * fragments to compact, and a retraction is a rebuild from the
    * remaining suites (`Decontamination.decontamIndexRebuild`). */
  final case class Decontam(n: Int = 3) extends FleetFamily {
    val name = "decontam"; val kind = Texts
    override def docKeyed: Boolean = false
    def build(s: SparkSession, rows: DataFrame, dir: String): Unit =
      Decontamination.decontamIndexBuild(rows, dir, "text", n)
    def append(s: SparkSession, dir: String, rows: DataFrame,
               batchId: Option[String]): Unit = {
      require(batchId.isEmpty, "the decontam index logs no batch ids")
      Decontamination.decontamIndexAppend(s, dir, rows, "text")
    }
    def delete(s: SparkSession, dir: String, doomed: DataFrame): Unit =
      throw new UnsupportedOperationException(
        "the decontam index is shingle-keyed: rebuild it from the " +
          "remaining suites")
    def compact(s: SparkSession, dir: String): Unit = ()
    def health(s: SparkSession, dir: String): DataFrame =
      Decontamination.decontamIndexHealth(s, dir)
    def hits(s: SparkSession, dir: String, p: Planted): DataFrame =
      Decontamination.decontamIndexReport(s, dir, p.probe, idCol, "text")
        .filter(col("is_contaminated"))
  }
}

/** The fleet queries' shared steps. */
private[graft] object Fleet {
  import scala.concurrent.{Await, Future}
  import scala.concurrent.duration._
  import scala.concurrent.ExecutionContext.Implicits.global

  /** Run independent actions CONCURRENTLY (one task each on the global
    * pool) and return their results in order; rethrows the first
    * failure. Each fleet action drives its own index dir under its own
    * writer lock, and at fixture scale each is scheduler-latency-bound,
    * so overlapping them cuts a gate's wall time without changing any
    * result. */
  def inParallel[A](fs: (() => A)*): Seq[A] =
    Await.result(Future.sequence(fs.map(f => Future(f()))), 10.minutes)

  /** Two value-returning actions, concurrently through [[inParallel]]. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(x, y) = inParallel[Any](() => a, () => b)
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }

  /** Build each (family, planted rows, dir) concurrently, alongside the
    * fixture's other independent writes. */
  def build(s: SparkSession, builds: Seq[(FleetFamily, DataFrame, String)],
            more: (() => Unit)*): Unit =
    inParallel(builds.map { case (f, rows, dir) =>
      () => f.build(s, rows, dir) } ++ more: _*)

  /** The fleet health table: each row tagged `tagCol` = its tag, unioned
    * by name with absent columns NULL (NULL never trips a planner
    * rule, so each family only trips its own). */
  def healthUnion(tagCol: String, rows: Seq[(Any, DataFrame)]): DataFrame =
    rows.map { case (tag, h) => h.withColumn(tagCol, lit(tag)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** The row count of each tagged hit frame, in ONE collect (one-row
    * aggregates unioned): at fixture scale a gate's cost is its Spark
    * action count. */
  def hitCounts(hits: Seq[(String, DataFrame)]): Map[String, Long] =
    hits.map { case (tag, df) =>
      df.agg(count(lit(1)).as("n")).select(lit(tag).as("family"), col("n"))
    }.reduce(_ unionByName _)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Plan → apply → re-plan: `planned` (dir, family, action) is pinned,
    * `apply` executes it (a `fleetMaintenanceApply` call), and each
    * planned row is reported as (family, action, status, action_after),
    * `action_after` read from `replan`. */
  def applyAndReplan(s: SparkSession, planned: DataFrame,
                     replan: => DataFrame)(
      apply: DataFrame => DataFrame): DataFrame = {
    import s.implicits._
    val p1 = planned.localCheckpoint(true)
    val status = apply(p1).select(col("dir"), col("status")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val after = replan.select(col("dir"), col("action").as("action_after"))
    p1.join(after, Seq("dir"))
      .select(col("family"), col("action"), col("dir"), col("action_after"))
      .collect().map(r => (r.getString(0), r.getString(1),
        status(r.getString(2)), r.getString(3))).toSeq.sortBy(_._1)
      .toDF("family", "action", "status", "action_after")
      .localCheckpoint()
  }
}

/** The planted fixtures of the fleet queries. */
private[graft] object FleetFixture {
  /** Distinct texts that share no 3-shingle. */
  val pangrams = Seq(
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "how vexingly quick daft zebras jump",
    "sphinx of black quartz judge my vow",
    "the five boxing wizards jump quickly",
    "jackdaws love my big sphinx of quartz")

  /** One boilerplate line: its copies fall into one bucket of every
    * band. */
  val boiler = "all work and no play makes jack a dull boy"

  /** `texts` as (id, text) rows with ids 0, 1, … in ONE partition. */
  def docs(s: SparkSession, texts: Seq[String]): DataFrame = {
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").repartition(1)
  }

  /** The unit vector on `dim` of a `dims`-space. */
  def axis(dim: Int, dims: Int = 8): Array[Float] = {
    val a = new Array[Float](dims); a(dim) = 1.0f; a
  }

  def axisD(dim: Int, dims: Int = 8): Seq[Double] =
    axis(dim, dims).map(_.toDouble).toSeq

  /** (from + c, axis(dimFrom + c)) for c < n as an (id, v) frame. */
  def axes(s: SparkSession, n: Int, from: Long = 0L,
           dimFrom: Int = 0): DataFrame = {
    import s.implicits._
    (0 until n).map(c => (from + c, axis(dimFrom + c))).toDF("id", "v")
  }

  /** The 2-d unit vector at `deg` degrees. */
  def ang(deg: Double): Array[Float] = Array(
    math.cos(math.toRadians(deg)).toFloat,
    math.sin(math.toRadians(deg)).toFloat)

  /** Two single-point base lists (0° and 90°), then twelve boundary
    * straddlers that split 8/4 across the frozen centroids. */
  val angBases: Seq[(Long, Array[Float])] = Seq((0L, ang(0.0)), (1L, ang(90.0)))
  val straddlers: Seq[(Long, Array[Float])] =
    (0 until 8).map(i => (10L + i, ang(44.1 + 0.1 * i))) ++
      (0 until 4).map(i => (20L + i, ang(45.2 + 0.1 * i)))

  /** Six 4-d vectors in three separated groups. */
  val groups3: Seq[Seq[Double]] = Seq(
    Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
    Seq(0.0, 0.0, 1.0, 0.0), Seq(0.9, 0.1, 0.0, 0.0),
    Seq(0.1, 0.9, 0.0, 0.0), Seq(0.0, 0.1, 0.9, 0.0))

  /** The decayed IVF fixture: cluster directions u_c = e_c + 0.2·e_{c+1}
    * with members u_c and u_c + 0.05·e_{c+2}, as an (id, v) corpus, and
    * the queries e_c as (qid, qv). All query-member cosines are
    * distinct (no rank-3 ties); the 3rd-nearest of query e_c is cluster
    * (c−1)'s first member, via its 0.2·e_c component. */
  def decayed(s: SparkSession): (DataFrame, DataFrame) = {
    import s.implicits._
    def member(c: Int, eps: Double): Array[Float] = {
      val a = axis(c, 4)
      a((c + 1) % 4) = 0.2f; a((c + 2) % 4) = eps.toFloat
      a
    }
    ((0 until 4).flatMap(c => Seq(
      (c * 2L, member(c, 0.0)), (c * 2L + 1, member(c, 0.05))))
      .toDF("id", "v"),
     (0 until 4).map(c => (c.toLong, axis(c, 4))).toDF("qid", "qv"))
  }

  /** The seven-family admission fixture: (base docs, benchmark suite,
    * base embeddings, batch). The batch carries one doc per rejection
    * mode: a clean doc, a token-REORDERED copy of base doc 1 (identical
    * unigram SimHash, no shared shingle), an embedding near-dup of
    * base id 2 (cosine 0.994) with unique text, an exact copy, and a
    * contaminated doc. */
  def admission(s: SparkSession)
    : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val b1 = "alpha beta gamma delta epsilon zeta eta theta"
    val base = Seq(
      1L -> b1,
      2L -> "one red two green three blue four yellow",
      3L -> "north wind and bright sun argued loudly today",
      4L -> "copper iron silver gold tin lead zinc nickel")
      .toDF("id", "text").repartition(1)
    val bench = Seq(100L ->
      "secret evaluation question regarding ancient sphinxes forever")
      .toDF("id", "text").repartition(1)
    val baseVecs = (1 to 4).map(i => (i.toLong, axisD(i - 1)))
      .toDF("id", "vec")
    val nearVec = {
      val a = new Array[Double](8); a(0) = 0.1; a(1) = 0.9; a.toSeq
    }
    val batch = Seq(
      (11L, "my own five clean unique words here", axisD(4)),
      (12L, "theta eta zeta epsilon delta gamma beta alpha", axisD(5)),
      (13L, "completely novel sentence about nothing shared anywhere",
        nearVec),
      (14L, b1, axisD(6)),
      (15L, "please answer this secret evaluation question regarding " +
        "ancient sphinxes", axisD(7)))
      .toDF("id", "text", "vec").repartition(1)
    (base, bench, baseVecs, batch)
  }
}
