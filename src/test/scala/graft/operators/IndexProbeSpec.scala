package graft.operators

import graft.SparkSpec
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted-index probes against their whole-table definitions:
  * the MinHash and SimHash hot-bucket guard, counted over every live
  * index row, must give the pairs the delta-restricted one-pass guard
  * gives; and the PQ lookup-table score must equal the per-element
  * asymmetric-distance formula. */
class IndexProbeSpec extends SparkSpec {
  import spark.implicits._

  private def text(tag: String, i: Int): String =
    (0 until 24).map(j => s"$tag${(i * 31 + j * 7) % 53}").mkString(" ")

  /** Base and delta corpora with a base-only hot bucket (5 copies of
    * text A in the index), a delta-only one (5 copies of B in the
    * batch), one hot on both sides (C), plain near-duplicates (D, F)
    * and a bucket hot only through rows a pending delete retracts (E:
    * 4 copies, 2 of them deleted). */
  private lazy val base: DataFrame =
    ((0 until 40).map(i => (i.toLong, text("w", i))) ++
      (100 until 105).map(i => (i.toLong, text("a", 1))) ++
      Seq((200L, text("b", 2))) ++
      (300 until 305).map(i => (i.toLong, text("c", 3))) ++
      Seq((400L, text("d", 4)), (600L, text("f", 6))) ++
      (500 until 504).map(i => (i.toLong, text("e", 5))))
      .toDF("id", "text")
  private lazy val delta: DataFrame =
    (Seq((1000L, text("a", 1))) ++
      (2000 until 2005).map(i => (i.toLong, text("b", 2))) ++
      (3000 until 3005).map(i => (i.toLong, text("c", 3))) ++
      Seq((4000L, text("d", 4) + " d9"), (5000L, text("e", 5)),
        (6000L, text("f", 6)), (7000L, text("w", 3))))
      .toDF("id", "text")

  /** The guard over the WHOLE live index (every bucket counted, both
    * sides' over-cap keys anti-joined from the delta), then the join. */
  private def wholeIndexPairs(idx: DataFrame, dBands: DataFrame,
                              cap: Int): DataFrame = {
    val keys = Seq("band", "bucket")
    val hot = idx.select(col("band"), col("bucket"), lit(1).as("_s"))
      .unionByName(dBands.select(col("band"), col("bucket"),
        lit(2).as("_s")))
      .groupBy("band", "bucket", "_s").count()
      .filter(col("count") > cap).select("band", "bucket")
    dBands.join(hot, keys, "left_anti").join(idx, keys)
  }

  private def live(dir: String, table: String): DataFrame = {
    val snap = Manifest.snapshot(spark, dir)
    Tombstones.live(spark, snap, spark.read.parquet(snap.path(table)))
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("delta_id", "base_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("MinHash probe pairs equal the whole-index guard's, with " +
    "base-only, delta-only and two-sided hot buckets and a pending " +
    "delete") {
    graft.util.TempDirs.using("probe_mh") { case Seq(dir) =>
      Dedup.minhashIndexBuild(base, dir, "id", "text", 3, 8, 4)
      Dedup.minhashIndexDelete(spark, dir, Seq(502L, 503L).toDF("id"))
      val (shingleN, sigK, bands) = Dedup.minhashIndexParams(spark, dir)
      val bandSize = sigK / bands
      val dBands = delta.select(col("id").as("delta_id"),
        TF.minhashSignature(col("text"), shingleN, sigK).as("sig"))
        .select(col("delta_id"), explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            TF.lshBand(col("sig"), b * bandSize, bandSize).as("bucket"))
        ): _*)).as("lb"))
        .select(col("delta_id"), col("lb.band"), col("lb.bucket"))
      val idx = live(dir, "bands").withColumnRenamed("id", "base_id")
      def sh(df: DataFrame, id: String, as: String) = df.select(
        col("id").as(id), TF.distinctShingles(col("text"), shingleN).as(as))
      for (cap <- Seq(1, 3, 4, 100)) {
        val want = pairSet(wholeIndexPairs(idx, dBands, cap)
          .select("delta_id", "base_id").distinct()
          .join(sh(delta, "delta_id", "sh_d"), "delta_id")
          .join(sh(base, "base_id", "sh_b"), "base_id")
          .filter(TF.jaccard(col("sh_d"), col("sh_b")) >= 0.5))
        val p = Dedup.minhashIndexProbe(spark, dir, delta, base, "id",
          "text", 0.5, cap)
        val got = pairSet(p)
        Clustering.releasePairs(p)
        assert(got == want, s"cap $cap")
        if (cap == 3) {
          assert(!got.exists(_._1 == 1000L), "base-only hot bucket pairs")
          assert(!got.exists(_._1 / 1000 == 2), "delta-only hot bucket")
          assert(!got.exists(_._1 / 1000 == 3), "two-sided hot bucket")
          assert(got.contains((4000L, 400L)) && got.contains((6000L, 600L)))
          assert(got.filter(_._1 == 5000L) ==
            Set((5000L, 500L), (5000L, 501L)),
            "a bucket hot only through retracted rows is live-counted")
        }
      }
    }
  }

  test("SimHash probe pairs equal the whole-index guard's, with " +
    "base-only, delta-only and two-sided hot buckets and a pending " +
    "delete") {
    graft.util.TempDirs.using("probe_sh") { case Seq(dir) =>
      Dedup.simhashIndexBuild(base, dir, "id", "text")
      Dedup.simhashIndexDelete(spark, dir, Seq(502L, 503L).toDF("id"))
      def banded(sigs: DataFrame, id: String, sig: String) = sigs
        .select(col("id").as(id), col("sig").as(sig))
        .select(col(id), col(sig), explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col(sig), b * 16).bitwiseAND(lit(0xFFFFL))
              .as("bucket"))): _*)).as("lb"))
        .select(col(id), col(sig), col("lb.band"), col("lb.bucket"))
      val idx = banded(live(dir, "sigs"), "base_id", "sig_b")
      val dBands = banded(delta.select(col("id"),
        TF.simhash64(col("text")).as("sig")), "delta_id", "sig_d")
      for (cap <- Seq(1, 3, 4, 100)) {
        val want = pairSet(wholeIndexPairs(idx, dBands, cap)
          .filter(TF.hamming64(col("sig_d"), col("sig_b")) <= 3))
        val p = Dedup.simhashIndexProbe(spark, dir, delta, "id", "text",
          3, cap)
        val got = pairSet(p)
        Clustering.releasePairs(p)
        assert(got == want, s"cap $cap")
        if (cap == 3) {
          assert(!got.exists(p => Set(1L, 2L, 3L)(p._1 / 1000)),
            "hot buckets on either side yield no pairs")
          assert(got.filter(_._1 == 5000L) ==
            Set((5000L, 500L), (5000L, 501L)),
            "a bucket hot only through retracted rows is live-counted")
        }
      }
    }
  }

  test("the PQ lookup-table score equals the per-element ADC formula " +
    "within 1e-12 relative, and is 0 for a zero-norm query or row") {
    val r = new java.util.SplittableRandom(11L)
    val (m, nCodes, subLen) = (4, 8, 5)
    // non-negative values: no cancellation, so a relative bound holds
    val cb = Array.fill(m, nCodes, subLen)(r.nextDouble())
    def direct(qv: Array[Double], codes: Array[Int], nrm: Double): Double = {
      var s = 0.0
      for (j <- 0 until m; t <- 0 until subLen)
        s += cb(j)(codes(j))(t) * qv(j * subLen + t)
      val qn = math.sqrt(qv.map(x => x * x).sum)
      if (nrm == 0.0 || qn == 0.0) 0.0 else s / (qn * nrm)
    }
    for (_ <- 0 until 200) {
      val qv = Array.fill(m * subLen)(r.nextDouble())
      val lut = Similarity.adcTable(cb, qv)
      for (_ <- 0 until 20) {
        val codes = Array.fill(m)(r.nextInt(nCodes))
        val nrm = 0.5 + r.nextDouble()
        val (got, want) =
          (Similarity.adcScore(lut, nCodes, codes.toSeq, nrm),
            direct(qv, codes, nrm))
        assert(math.abs(got - want) <= 1e-12 * math.abs(want),
          s"$got vs $want")
      }
    }
    val codes = Seq(1, 2, 3, 4)
    val zeroQ = Similarity.adcTable(cb, Array.fill(m * subLen)(0.0))
    assert(Similarity.adcScore(zeroQ, nCodes, codes, 1.0) == 0.0)
    val q = Similarity.adcTable(cb, Array.fill(m * subLen)(1.0))
    assert(Similarity.adcScore(q, nCodes, codes, 0.0) == 0.0)
  }
}
