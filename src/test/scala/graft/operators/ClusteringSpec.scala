package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ClusteringSpec extends SparkSpec {

  private def blob(center: Array[Double], ids: Range): Seq[(Int, Seq[Double])] =
    ids.map { i =>
      // deterministic jitter, small enough to never cross blobs
      i -> center.zipWithIndex.map { case (c, j) =>
        c + 0.01 * (((i * 31 + j * 7) % 11) - 5)
      }.toSeq
    }

  test("kmeans: separates two blobs; init is the k lowest ids") {
    import spark.implicits._
    val a = blob(Array(0.0, 0.0, 0.0, 0.0), 0 until 10)
    val b = blob(Array(5.0, 5.0, 5.0, 5.0), 10 until 20)
    val df = (a ++ b).toDF("id", "v")
    val got = Clustering.kmeans(df, "id", "v", k = 2, iterations = 2)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    // ids 0 and 1 seed the two centroids, both in blob a — after two
    // Lloyd passes the update must still pull one centroid to blob b
    val ca = (0 until 10).map(got)
    val cb = (10 until 20).map(got)
    assert(ca.distinct.size == 1, s"blob a split: $ca")
    assert(cb.distinct.size == 1, s"blob b split: $cb")
    assert(ca.head != cb.head, "blobs must land in different clusters")
  }

  test("kmeans is partitioning-invariant and deterministic") {
    import spark.implicits._
    val df = (blob(Array(0.0, 0.0, 0.0), 0 until 15) ++
      blob(Array(3.0, -2.0, 1.0), 15 until 30) ++
      blob(Array(-4.0, 4.0, 0.0), 30 until 45)).toDF("id", "v")
    val x = Clustering.kmeans(df, "id", "v", 3, 2)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toSet
    val y = Clustering.kmeans(df.repartition(7), "id", "v", 3, 2)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toSet
    assert(x == y)
  }

  test("kmeansTwoLevel is partitioning-invariant and deterministic") {
    import spark.implicits._
    val df = (blob(Array(0.0, 0.0, 0.0), 0 until 15) ++
      blob(Array(3.0, -2.0, 1.0), 15 until 30) ++
      blob(Array(-4.0, 4.0, 0.0), 30 until 45)).toDF("id", "v")
    val x = Clustering.kmeansTwoLevel(df, "id", "v",
        targetClusterSize = 10, iterations = 2)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toSet
    val y = Clustering.kmeansTwoLevel(df.repartition(7), "id", "v",
        targetClusterSize = 10, iterations = 2)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toSet
    assert(x == y)
    assert(x.size == 45)
    // more than one fine cluster must exist at this target size, and
    // ids encode (cell · 2³² + fineIndex)
    assert(x.map(_._2).size > 1)
    assert(x.map(_._2).forall(c => c >= 0 && (c & 0xffffffffL) < 45))
  }

  test("semDedupAuto (two-level): finds the injected near-dup") {
    import spark.implicits._
    val base = blob(Array(0.0, 1.0, 2.0, 3.0), 0 until 12) ++
      blob(Array(-3.0, 2.0, -1.0, 4.0), 12 until 24)
    val dup = Seq(100 -> base.head._2.map(_ + 1e-4))
    val df = (base ++ dup).toDF("id", "v")
    val pairs = Clustering.semDedupAuto(df, "id", "v", tau = 0.999,
      targetClusterSize = 13, iterations = 2)
      .select("id_a", "id_b").collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(pairs.contains((0, 100)), s"injected dup not found: ${pairs.toSeq}")
  }

  test("semDedup: finds the injected near-dup, only within-cluster pairs") {
    import spark.implicits._
    val base = blob(Array(0.0, 1.0, 2.0, 3.0), 0 until 12) ++
      blob(Array(-3.0, 2.0, -1.0, 4.0), 12 until 24)
    // 100 is a near-copy of 0's vector (same cluster, cosine ~1)
    val dup = Seq(100 -> base.head._2.map(_ + 1e-4))
    val df = (base ++ dup).toDF("id", "v")
    val pairs = Clustering.semDedup(df, "id", "v", tau = 0.999,
      k = 2, iterations = 2)
      .select("id_a", "id_b").collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(pairs.contains((0, 100)), s"injected dup not found: ${pairs.toSeq}")
    // the hot-cluster guard drops everything when the cap is tiny
    val none = Clustering.semDedup(df, "id", "v", tau = 0.0,
      k = 2, iterations = 2, maxCluster = 2L)
    assert(none.count() == 0)
  }

  test("semDedupIncremental pairs only batch-involving near-dups, " +
    "assigned against the base clustering") {
    import spark.implicits._
    // base: two tight blobs; ids 0/1 are a base-base near-dup pair that
    // must NOT re-emit (it was yesterday's output)
    def v(c: Double, eps: Double) = Seq(c, c + eps, 1.0, 2.0)
    val base = Seq(
      0L -> v(0.0, 0.0000), 1L -> v(0.0, 0.0001), 2L -> v(0.1, 0.03),
      10L -> v(9.0, 0.000), 11L -> v(9.0, 0.020), 12L -> v(9.1, 0.05)
    ).toDF("id", "vec")
    // batch: a copy of id 0, a copy of id 10, and one far-off vector
    val batch = Seq(
      100L -> v(0.0, 0.00005), 101L -> v(9.0, 0.001),
      102L -> Seq(-5.0, 4.0, -3.0, 0.5)
    ).toDF("id", "vec")
    val got = Clustering.semDedupIncremental(base, batch, "id", "vec",
      tau = 0.99999, k = 2, iterations = 2)
    val pairs = got.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every emitted pair involves a batch id; the base-base dup (0,1)
    // is absent; the far-off batch vector pairs with nothing
    assert(pairs.forall { case (a, b) => a >= 100L || b >= 100L }, pairs)
    assert(pairs.contains((0L, 100L)) && pairs.contains((1L, 100L)),
      pairs.toString)
    assert(pairs.contains((10L, 101L)), pairs.toString)
    assert(!pairs.exists { case (a, b) => a == 102L || b == 102L }, pairs)
    // deterministic under repartitioning
    val again = Clustering.semDedupIncremental(base.repartition(3),
      batch.repartition(2), "id", "vec", tau = 0.99999, k = 2,
      iterations = 2)
    assert(again.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == pairs)
    Clustering.releasePairs(got)
    Clustering.releasePairs(again)
  }

  test("semDedupStateAppend: day-2 near-dups against day-1's accepted " +
    "batch through the persisted state, under the writer lock") {
    import spark.implicits._
    def v(c: Double, eps: Double) = Seq(c, c + eps, 1.0, 2.0)
    val base = Seq(
      0L -> v(0.0, 0.0000), 1L -> v(0.0, 0.0001), 2L -> v(0.1, 0.03),
      10L -> v(9.0, 0.000), 11L -> v(9.0, 0.020), 12L -> v(9.1, 0.05)
    ).toDF("id", "vec")
    // day-1 brings a NEW near-dup nucleus far from both base blobs
    val day1 = Seq(200L -> Seq(-5.0, 4.0, -3.0, 0.5)).toDF("id", "vec")
    // day-2: a near-copy of day-1's vector and a near-copy of base id 0
    val day2 = Seq(
      300L -> Seq(-5.0, 4.0001, -3.0, 0.5),
      301L -> v(0.0, 0.00005)).toDF("id", "vec")
    graft.util.TempDirs.using("semapp") { case Seq(root) =>
      val (labels, centroids) = Clustering.kmeansWithCentroids(
        base, "id", "vec", k = 2, iterations = 2)
      Clustering.semDedupStateSave(spark, root, labels, "id", centroids)
      Clustering.releasePairs(labels)
      Clustering.semDedupStateAppend(spark, root, day1, "id", "vec")
      // the label table now carries day-1's frozen assignment
      val vecs = base.unionByName(day1)
      val got = Clustering.semDedupIncrementalPersisted(spark, root,
        vecs, day2, "id", "vec", tau = 0.999)
      val pairs = got.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // day-2 vs day-1: only possible if the append landed
      assert(pairs.contains((200L, 300L)), pairs.toString)
      // day-2 vs base still works, and every pair involves a day-2 id
      assert(pairs.exists { case (a, b) => b == 301L && a <= 1L }, pairs)
      assert(pairs.forall { case (a, b) => a >= 300L || b >= 300L }, pairs)
      Clustering.releasePairs(got)
      // the writer lock is enforced on the state append
      Manifest.withLock(spark, root) {
        val e = intercept[IllegalStateException] {
          Clustering.semDedupStateAppend(spark, root, day2, "id", "vec")
        }
        assert(e.getMessage.contains("another writer"))
      }
    }
  }

  test("semDedupStateHealth reports cluster skew and fragments; " +
    "semDedupStateCompact folds fragments behind a manifest flip with " +
    "probes invariant") {
    import spark.implicits._
    def v(c: Double, eps: Double) = Seq(c, c + eps, 1.0, 2.0)
    val base = Seq(
      0L -> v(0.0, 0.0000), 1L -> v(0.0, 0.0001), 2L -> v(0.1, 0.03),
      10L -> v(9.0, 0.000)).toDF("id", "vec")
    val day1 = Seq(200L -> v(0.0, 0.0002)).toDF("id", "vec")
    val day2 = Seq(300L -> v(0.0, 0.00005)).toDF("id", "vec")
    val probeBatch = Seq(400L -> v(0.0, 0.00007)).toDF("id", "vec")
    graft.util.TempDirs.using("semhealth") { case Seq(root) =>
      val (labels, centroids) = Clustering.kmeansWithCentroids(
        base, "id", "vec", k = 2, iterations = 2)
      Clustering.semDedupStateSave(spark, root, labels, "id", centroids)
      Clustering.releasePairs(labels)
      Clustering.semDedupStateAppend(spark, root, day1, "id", "vec")
      Clustering.semDedupStateAppend(spark, root, day2, "id", "vec")
      def health() = Clustering.semDedupStateHealth(spark, root,
        hotClusterCap = 4).head()
      val h0 = health()
      assert(h0.getAs[Long]("n_clusters") == 2L)
      assert(h0.getAs[Long]("total_rows") == 6L)
      // the 0.0-blob cluster holds base {0,1,2} + day-1 + day-2 = 5 > 4
      assert(h0.getAs[Long]("max_cluster") == 5L)
      assert(h0.getAs[Long]("hot_clusters") == 1L)
      val frags = h0.getAs[Long]("n_fragments")
      assert(frags >= 3L, s"two appends must fragment: $frags")
      // the planner maps hot_clusters to a rebuild (quantizer stale)
      assert(Similarity.indexMaintenancePlan(
        Clustering.semDedupStateHealth(spark, root, hotClusterCap = 4),
        recallFloor = 0.9, maxFilesPerListCeiling = 10,
        hotClustersCeiling = 0L)
        .head().getAs[String]("action") == "rebuild")
      def probe() = {
        val vecs = base.unionByName(day1).unionByName(day2)
        val got = Clustering.semDedupIncrementalPersisted(spark, root,
          vecs, probeBatch, "id", "vec", tau = 0.999)
        val pairs = got.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        Clustering.releasePairs(got)
        pairs
      }
      val before = probe()
      assert(before.contains((200L, 400L)) && before.contains((300L, 400L)),
        before.toString)
      // compaction: fewer fragments, version flip, identical probe
      Clustering.semDedupStateCompact(spark, root)
      assert(Manifest.snapshot(spark, root).version == 1)
      assert(health().getAs[Long]("n_fragments") < frags)
      assert(health().getAs[Long]("total_rows") == 6L)
      assert(probe() == before)
      // compaction holds the writer lock
      Manifest.withLock(spark, root) {
        val e = intercept[IllegalStateException] {
          Clustering.semDedupStateCompact(spark, root)
        }
        assert(e.getMessage.contains("another writer"))
      }
    }
  }

  test("semDedupIncrementalAuto (two-level) matches the single-level " +
    "increment's pair semantics and is deterministic") {
    import spark.implicits._
    def v(c: Double, eps: Double) = Seq(c, c + eps, 1.0, 2.0)
    val base = (0 until 20).map { i =>
      val center = if (i % 2 == 0) 0.0 else 9.0
      (i.toLong, v(center, 0.01 * i))
    }.toDF("id", "vec")
    val batch = Seq(
      100L -> v(0.0, 0.0001), // near-dup of the id-0 blob
      101L -> v(9.0, 0.011),  // near-dup of the id-1 blob
      102L -> Seq(-7.0, 3.0, -2.0, 1.0) // far from everything
    ).toDF("id", "vec")
    val got = Clustering.semDedupIncrementalAuto(base, batch, "id",
      "vec", tau = 0.99999, targetClusterSize = 6, iterations = 2)
    val pairs = got.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => a >= 100L || b >= 100L }, pairs)
    assert(pairs.exists { case (a, b) => b == 100L && a % 2 == 0 }, pairs)
    assert(pairs.exists { case (a, b) => b == 101L && a % 2 == 1 }, pairs)
    assert(!pairs.exists { case (a, b) => a == 102L || b == 102L }, pairs)
    // deterministic under repartitioning; iteration state all released
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val again = Clustering.semDedupIncrementalAuto(base.repartition(5),
      batch.repartition(2), "id", "vec", tau = 0.99999,
      targetClusterSize = 6, iterations = 2)
    assert(again.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == pairs)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked beyond the result checkpoint: $leaked")
    Clustering.releasePairs(got)
    Clustering.releasePairs(again)
  }

  test("semDedup releases its iteration caches (only the result stays)") {
    import spark.implicits._
    val df = (blob(Array(0.0, 1.0, 2.0, 3.0), 0 until 12) ++
      Seq(100 -> Seq(0.0001, 1.0001, 2.0001, 3.0001))).toDF("id", "v")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Clustering.semDedup(df, "id", "v", tau = 0.999,
      k = 2, iterations = 2)
    assert(pairs.count() >= 1)
    // the corpus-sized `guarded` cache and the kmeans labels checkpoint
    // must be gone; the ONLY new persisted block is the materialized
    // (tau-bounded) pair result itself, and the documented release
    // helper restores the session to its pre-call persistence state
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.size <= 1, s"leaked persisted RDDs: $after")
    Clustering.releasePairs(pairs)
    val finalSet = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(finalSet.isEmpty, s"leaked persisted RDDs: $finalSet")
  }
}
