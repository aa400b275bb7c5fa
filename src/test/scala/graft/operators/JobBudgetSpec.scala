package graft.operators

import graft.SparkSpec
import graft.util.JobCount
import org.apache.spark.sql.DataFrame

/** Job budgets for the persisted-index verbs: on one fixed small
  * fixture, each family's build, append, probe (with its result
  * collected), delete and compact must not start more Spark jobs than
  * its budget. At this size the scheduler floor — jobs × per-job
  * latency — is most of a verb's cost, so a plan change that adds a
  * schema-inference, sort or stage job fails here instead of waiting for
  * a benchmark. Budgets are the counts measured on the fixture, asserted
  * as ≤ so a plan improvement never fails the suite. */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val verbs = Seq("build", "append", "probe", "delete", "compact")

  // family → budget per verb, in `verbs` order. Probe: the bounded
  // batch's scope runs the MinHash/SimHash probe as a count, the
  // broadcast(s) of batch-sized sides and the checkpoint, plus the
  // collect; an IVF probe is one quantizer collect, the top-k
  // stage(s) and the collect; the exact probe is the batch-hash
  // broadcast, the stage of its one hash-keyed window and the collect.
  // Delete: one write (keys, then the move); the exact family's keys
  // are the hashes of a join. SemDeDup's build is the two-iteration
  // k-means plus the state save, and its probe the persisted
  // increment's eager steps, checkpoint and collect; the decontam
  // build, append and rebuild each write the whole shingle set once.
  private val budgets = Map(
    "exact" -> Seq(2, 2, 3, 3, 5),
    "minhash" -> Seq(1, 1, 5, 2, 5),
    "simhash" -> Seq(1, 1, 4, 2, 5),
    "ivf" -> Seq(5, 3, 3, 2, 4),
    "ivf_pq" -> Seq(6, 3, 5, 2, 4),
    "semdedup" -> Seq(8, 2, 14, 2, 5),
    // the shingle set rewrites itself whole: its delete is the rebuild
    // from the remaining suites, and it has no compaction
    "decontam" -> Seq(2, 3, 4, 3))

  private def words(i: Int): String =
    (0 until 30).map(j => s"w${(i * 7 + j * j) % 97}").mkString(" ")

  private lazy val docs: DataFrame =
    (0 until 120).map(i => (i.toLong, words(i))).toDF("id", "text")
  private lazy val delta: DataFrame =
    Seq(1000L -> words(3), 1001L -> words(50), 1002L -> "a fresh text")
      .toDF("id", "text")

  private def vec(i: Int): Seq[Float] = {
    val r = new java.util.SplittableRandom(i.toLong)
    Seq.fill(16)((i % 4 + r.nextGaussian() * 0.1).toFloat)
  }
  private lazy val vecs: DataFrame =
    (0 until 120).map(i => (i.toLong, vec(i))).toDF("id", "v")
  private lazy val queries: DataFrame =
    (0 until 4).map(i => (i.toLong, vec(500 + i))).toDF("qid", "qv")
  private lazy val retract: DataFrame = Seq(3L, 7L).toDF("id")
  private lazy val embeddings: DataFrame =
    vecs.withColumn("v", $"v".cast("array<double>"))

  /** The verbs of one family, in lifecycle order, over index `dir`. */
  private def lifecycle(family: String, dir: String): Seq[() => Unit] = {
    val base = docs.filter($"id" < 100)
    val added = docs.filter($"id" >= 100)
    val baseV = vecs.filter($"id" < 100)
    val addedV = vecs.filter($"id" >= 100)
    family match {
      case "exact" => Seq(
        () => Dedup.exactIndexBuild(base, dir, "id", "text"),
        () => Dedup.exactIndexAppend(spark, dir, added, "id", "text"),
        () => Dedup.exactIndexProbe(spark, dir, delta, "id", "text")
          .collect(),
        () => Dedup.exactIndexDelete(spark, dir,
          docs.join(retract, "id"), "id", "text"),
        () => Dedup.exactIndexCompact(spark, dir))
      case "minhash" => Seq(
        () => Dedup.minhashIndexBuild(base, dir, "id", "text", 3, 8, 4),
        () => Dedup.minhashIndexAppend(spark, dir, added, "id", "text"),
        () => {
          val p = Dedup.minhashIndexProbe(spark, dir, delta, docs, "id",
            "text")
          p.collect()
          Clustering.releasePairs(p)
        },
        () => Dedup.minhashIndexDelete(spark, dir, retract),
        () => Dedup.minhashIndexCompact(spark, dir))
      case "simhash" => Seq(
        () => Dedup.simhashIndexBuild(base, dir, "id", "text"),
        () => Dedup.simhashIndexAppend(spark, dir, added, "id", "text"),
        () => {
          val p = Dedup.simhashIndexProbe(spark, dir, delta, "id", "text")
          p.collect()
          Clustering.releasePairs(p)
        },
        () => Dedup.simhashIndexDelete(spark, dir, retract),
        () => Dedup.simhashIndexCompact(spark, dir))
      case "ivf" => Seq(
        () => Similarity.ivfBuild(baseV, dir, nList = 4),
        () => Similarity.ivfAppend(spark, dir, addedV),
        () => Similarity.ivfQuery(spark, dir, queries, 5, 2).collect(),
        () => Similarity.ivfDelete(spark, dir, retract),
        () => Similarity.ivfCompact(spark, dir))
      case "ivf_pq" => Seq(
        () => Similarity.ivfPqBuild(baseV, dir, nList = 4, m = 4,
          nCodes = 8),
        () => Similarity.ivfPqAppend(spark, dir, addedV),
        () => Similarity.ivfPqQuery(spark, dir, queries, vecs, 5, 2, 20)
          .collect(),
        () => Similarity.ivfDelete(spark, dir, retract),
        () => Similarity.ivfPqCompact(spark, dir))
      case "semdedup" => Seq(
        () => {
          val (labels, centroids) = Clustering.kmeansWithCentroids(
            embeddings.filter($"id" < 100), "id", "v", 4, 2)
          Clustering.semDedupStateSave(spark, dir, labels, "id", centroids)
          Clustering.releasePairs(labels)
        },
        () => Clustering.semDedupStateAppend(spark, dir,
          embeddings.filter($"id" >= 100), "id", "v"),
        () => {
          val p = Clustering.semDedupIncrementalPersisted(spark, dir,
            embeddings, queries.select($"qid".as("id"),
              $"qv".cast("array<double>").as("v")), "id", "v", 0.9)
          p.collect()
          Clustering.releasePairs(p)
        },
        () => Clustering.semDedupStateDelete(spark, dir, retract),
        () => Clustering.semDedupStateCompact(spark, dir))
      case "decontam" => Seq(
        () => Decontamination.decontamIndexBuild(base, dir, "text"),
        () => Decontamination.decontamIndexAppend(spark, dir, added, "text"),
        () => Decontamination.decontamIndexReport(spark, dir, delta, "id",
          "text").collect(),
        () => Decontamination.decontamIndexRebuild(spark, dir,
          docs.join(retract, Seq("id"), "left_anti"), "text"))
    }
  }

  /** Each step's job count against its budget, in order. */
  private def withinBudget(what: String, steps: Seq[(String, () => Unit)],
                           budget: Seq[Int]): Unit = {
    val counts = steps.map { case (_, v) => JobCount(spark)(v())._2 }
    val report = steps.map(_._1).zip(counts).zip(budget).map {
      case ((v, n), b) => s"$v $n/$b" }.mkString(", ")
    info(s"$what jobs: $report")
    assert(counts.zip(budget).forall { case (n, b) => n <= b },
      s"$what over its job budget: $report")
  }

  budgets.toSeq.sortBy(_._1).foreach { case (family, budget) =>
    val named = verbs.take(budget.size)
    test(s"$family ${named.init.mkString(", ")} and ${named.last} stay " +
      "within their job budgets") {
      graft.util.TempDirs.using(s"jobs_$family") { case Seq(dir) =>
        withinBudget(family, named.zip(lifecycle(family, dir)), budget)
      }
    }
  }

  // The fleet verbs over a mixed fleet of five families: per dir, one
  // sniff (file-system existence checks, no job) and the family's own
  // reading or step. Health: the union's collect plus the eager
  // per-family readings (the IVF-PQ layout collects, the SemDeDup
  // centroid count). Delete: the per-family retractions (the decontam
  // row skips). Maintenance: one compaction per family (the decontam
  // row skips). Audit: the one collected union.
  private val fleetVerbs = Seq("fleetHealth", "fleetDelete",
    "fleetMaintenanceApply", "fleetEraseAudit")
  private val fleetBudget = Seq(15, 12, 19, 13)

  test("fleetHealth, fleetDelete, fleetMaintenanceApply and " +
    "fleetEraseAudit over a mixed fleet stay within their job budgets") {
    graft.util.TempDirs.using("jobs_fl_ex", "jobs_fl_mh", "jobs_fl_pq",
      "jobs_fl_sd", "jobs_fl_dc") { dirs =>
      val families = Seq("exact", "minhash", "ivf_pq", "semdedup",
        "decontam")
      // the builds run outside the count
      families.zip(dirs).foreach { case (f, d) => lifecycle(f, d).head() }
      val doomed = docs.join(retract, "id")
      val plan = dirs.map(_ -> "compact").toDF("dir", "action")
      withinBudget("fleet", fleetVerbs.zip(Seq(
        () => Similarity.fleetHealth(spark, dirs).collect(),
        () => Similarity.fleetDelete(spark, dirs, doomed,
          textCol = Some("text")).collect(),
        () => Similarity.fleetMaintenanceApply(spark, plan).collect(),
        () => Similarity.fleetEraseAudit(spark, dirs, doomed,
          textCol = Some("text")).collect())), fleetBudget)
    }
  }
}
