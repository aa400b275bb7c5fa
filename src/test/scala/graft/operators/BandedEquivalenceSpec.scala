package graft.operators

import graft.SparkSpec
import graft.functions.{TextFunctions => TF}
import graft.util.ExecProfile
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty

/** The persisted banded probes against their in-memory definitions, as
  * a property over small random corpora: planted near-duplicate groups
  * (exact copies, or one word changed, of one text: 1 to cap − 1 docs on
  * each side, so a group can be over the cap in base ∪ delta) and one
  * boilerplate class over `maxBucketSize` on one side with 0 to cap + 3
  * copies on the other: a hot bucket. Each case runs under a random
  * input partitioning, shuffle width and AQE setting.
  *   - MinHash: `minhashIndexProbe` over an index built from `base`
  *     equals `incrementalMinhashLsh(delta, base)`.
  *   - SimHash: `simhashIndexProbe` equals a reference written here that
  *     guards each side, as the probe does. `simhash(base ∪ delta)`
  *     restricted to cross pairs guards a bucket over the union, so it
  *     is a subset of the probe's pairs, and equal to them unless some
  *     bucket is within the cap on each side but over it in the union
  *     (the pinned 2 + 2 at cap 3 example below). */
class BandedEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private final case class Corpus(base: Seq[(Long, String)],
                                  delta: Seq[(Long, String)], cap: Int,
                                  baseParts: Int, deltaParts: Int,
                                  width: Int, aqe: Boolean)

  private def doc(r: scala.util.Random, n: Int): Vector[String] =
    Vector.fill(n)(s"w${r.nextInt(400)}")

  private val genCorpus: Gen[Corpus] = for {
    seed <- Gen.choose(0L, Long.MaxValue)
    nBase <- Gen.choose(6, 12)
    nDelta <- Gen.choose(2, 5)
    nNear <- Gen.choose(1, 3)
    cap <- Gen.choose(3, 4)
    hotOver <- Gen.choose(1, 3)
    hotOther <- Gen.choose(0, cap + 3)
    hotInBase <- Gen.oneOf(true, false)
    baseParts <- Gen.choose(1, 4)
    deltaParts <- Gen.choose(1, 3)
    width <- Gen.oneOf(1, 2, 3, 8)
    aqe <- Gen.oneOf(true, false)
  } yield {
    val r = new scala.util.Random(seed)
    val len = 40
    // a near-dup group: 1 to cap − 1 variants of one text per side, an
    // exact copy or one word changed; the first group's first variants
    // are exact copies, so every case has a pair
    def variants(t: Vector[String], exactFirst: Boolean): Vector[String] =
      Vector.tabulate(1 + r.nextInt(cap - 1)) { j =>
        if ((exactFirst && j == 0) || r.nextBoolean()) t
        else t.updated(r.nextInt(len), s"x${r.nextInt(400)}")
      }.map(_.mkString(" "))
    val groups = Vector.tabulate(nNear) { g =>
      val t = doc(r, len)
      (variants(t, g == 0), variants(t, g == 0))
    }
    // the hot class: over the cap on one side, 0 to cap + 3 on the other
    val boiler = Vector.fill(len)("boilerplate").mkString(" ")
    val (hotBase, hotDelta) = {
      val over = Vector.fill(cap + hotOver)(boiler)
      val other = Vector.fill(hotOther)(boiler)
      if (hotInBase) (over, other) else (other, over)
    }
    val base = (Vector.fill(nBase)(doc(r, len).mkString(" ")) ++
      groups.flatMap(_._1) ++ hotBase).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val delta = (groups.flatMap(_._2) ++
      Vector.fill(nDelta)(doc(r, len).mkString(" ")) ++ hotDelta)
      .zipWithIndex.map { case (t, i) => (1000L + i, t) }
    Corpus(base, delta, cap, baseParts, deltaParts, width, aqe)
  }

  private def frames(c: Corpus): (DataFrame, DataFrame) =
    (c.base.toDF("id", "text").repartition(c.baseParts),
      c.delta.toDF("id", "text").repartition(c.deltaParts))

  private def scoped[T](c: Corpus)(body: => T): T =
    ExecProfile.withConfs(spark, Map(
      "spark.sql.shuffle.partitions" -> c.width.toString,
      "spark.sql.adaptive.enabled" -> c.aqe.toString))(body)

  private def rows(df: DataFrame): Set[(Long, Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString))
      .toSet

  private def check(name: String)(prop: Corpus => Boolean): Unit = {
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(4).withWorkers(1), Prop.forAll(genCorpus) { c =>
      Prop(prop(c)) :| c.toString
    })
    assert(result.passed, s"$name: ${Pretty.pretty(result)}")
  }

  /** The SimHash probe's definition over (id, text) rows, on the driver:
    * a (delta, base) pair within Hamming 3 that shares a 16-bit band
    * bucket holding at most `cap` docs on each side. Also whether some
    * bucket holding both sides is within the cap on each side but over
    * it in the union — where `simhash` over the union drops pairs. */
  private def simhashReference(base: Seq[(Long, String)],
                               delta: Seq[(Long, String)], cap: Int)
    : (Set[(Long, Long, String)], Boolean) = {
    def sigs(docs: Seq[(Long, String)]): Seq[(Long, Long)] =
      docs.toDF("id", "text").select($"id", TF.simhash64($"text"))
        .as[(Long, Long)].collect().toSeq
    def buckets(sig: Long): Seq[(Int, Long)] =
      (0 until 4).map(b => (b, (sig >>> (b * 16)) & 0xFFFFL))
    val (bs, ds) = (sigs(base), sigs(delta))
    def counts(s: Seq[(Long, Long)]): Map[(Int, Long), Int] =
      s.flatMap(p => buckets(p._2)).groupBy(identity).map {
        case (k, v) => k -> v.size }
    val (bc, dc) = (counts(bs), counts(ds))
    val pairs = for {
      (d, sd) <- ds; (b, sb) <- bs
      h = java.lang.Long.bitCount(sd ^ sb)
      if h <= 3 && buckets(sd).intersect(buckets(sb)).exists(k =>
        bc(k) <= cap && dc(k) <= cap)
    } yield (d, b, h.toString)
    val unionOnlyHot = bc.keySet.intersect(dc.keySet).exists(k =>
      bc(k) <= cap && dc(k) <= cap && bc(k) + dc(k) > cap)
    (pairs.toSet, unionOnlyHot)
  }

  test("minhashIndexProbe equals incrementalMinhashLsh under random " +
    "partitioning, shuffle width and AQE (property)") {
    check("minhash") { c =>
      graft.util.TempDirs.using("eq_mh") { case Seq(dir) =>
        scoped(c) {
          val (base, delta) = frames(c)
          Dedup.minhashIndexBuild(base, dir, "id", "text")
          val p = Dedup.minhashIndexProbe(spark, dir, delta, base, "id",
            "text", maxBucketSize = c.cap)
          val got = rows(p)
          Clustering.releasePairs(p)
          val want = rows(Dedup.incrementalMinhashLsh(delta, base, "id",
            "text", maxBucketSize = c.cap))
          // the planted near-dups pair; the hot class never does
          got == want && got.nonEmpty
        }
      }
    }
  }

  test("simhashIndexProbe equals the per-side guard's pairs, and " +
    "contains simhash over base ∪ delta restricted to cross pairs, under " +
    "random partitioning, shuffle width and AQE (property)") {
    check("simhash") { c =>
      graft.util.TempDirs.using("eq_sh") { case Seq(dir) =>
        scoped(c) {
          val (base, delta) = frames(c)
          Dedup.simhashIndexBuild(base, dir, "id", "text")
          val p = Dedup.simhashIndexProbe(spark, dir, delta, "id", "text",
            maxBucketSize = c.cap)
          val got = rows(p)
          Clustering.releasePairs(p)
          val (want, unionOnlyHot) = simhashReference(c.base, c.delta, c.cap)
          // base ids < 1000 ≤ delta ids, so a cross pair is (base, delta)
          val union = rows(Dedup.simhash(base.unionByName(delta), "id",
              "text", maxBucketSize = c.cap)
            .where($"id_a" < 1000L && $"id_b" >= 1000L)
            .select($"id_b", $"id_a", $"hamming"))
          got == want && got.nonEmpty && union.subsetOf(got) &&
            (unionOnlyHot || union == got)
        }
      }
    }
  }

  test("a bucket within the cap on each side but over it in the union " +
    "(2 + 2 at cap 3) keeps its pairs in the probes and drops them from " +
    "the self-joins over the union") {
    val text = (0 until 40).map(j => s"w${j * 13 % 97}").mkString(" ")
    val filler = (0 until 40).map(j => s"f${j * 7 % 89}").mkString(" ")
    val base = Seq(0L -> text, 1L -> text, 2L -> filler).toDF("id", "text")
    val delta = Seq(1000L -> text, 1001L -> text).toDF("id", "text")
    val pairs = Set(1000L, 1001L).flatMap(d => Set(0L, 1L).map(b => (d, b)))
    def cross(df: DataFrame): Set[(Long, Long)] = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.util.TempDirs.using("eq_2p2_mh", "eq_2p2_sh") {
      case Seq(mh, sh) =>
        Dedup.minhashIndexBuild(base, mh, "id", "text")
        val pm = Dedup.minhashIndexProbe(spark, mh, delta, base, "id",
          "text", maxBucketSize = 3)
        assert(cross(pm) == pairs)
        Clustering.releasePairs(pm)
        assert(cross(Dedup.incrementalMinhashLsh(delta, base, "id", "text",
          maxBucketSize = 3)) == pairs)
        assert(Dedup.minhashLsh(base.unionByName(delta), "id", "text",
          maxBucketSize = 3).where($"id_a" < 1000L && $"id_b" >= 1000L)
          .isEmpty)
        // the MinHash verify reads base text: without it, a named error
        val e = intercept[IllegalArgumentException](Dedup.probeLazy(
          IndexFamily.MinHash.layout(spark, mh), spark, mh, delta, None,
          "id", "text", 0.5, 3))
        assert(e.getMessage.contains("base text table"))
        Dedup.simhashIndexBuild(base, sh, "id", "text")
        val ps = Dedup.simhashIndexProbe(spark, sh, delta, "id", "text",
          maxBucketSize = 3)
        assert(cross(ps) == pairs)
        Clustering.releasePairs(ps)
        assert(Dedup.simhash(base.unionByName(delta), "id", "text",
          maxBucketSize = 3).where($"id_a" < 1000L && $"id_b" >= 1000L)
          .isEmpty)
    }
  }
}
