package graft.util

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty

/** The session-conf scope (`withConfs`) and the input-size-derived
  * shuffle-width scope built on it: activation boundary, exact
  * restoration of `conf.getAll`, and graceful no-op on non-integer
  * session widths. The scope tests run on a `newSession()`: its conf
  * holds only the SparkConf keys (shuffle.partitions among them), so
  * the unset-key cases stay unset whatever other suites did to the
  * shared session. */
class ExecProfileSpec extends SparkSpec {

  private val SpKey = "spark.sql.shuffle.partitions"
  private val AqeKey = "spark.sql.adaptive.enabled"
  private val WscKey = "spark.sql.codegen.wholeStage"

  test("derivedWidth clamps at the session width for large inputs and " +
    "narrows proportionally for small ones") {
    // session width is 4 (SparkSpec); 25k rows/partition line
    assert(ExecProfile.derivedWidth(spark, 1000000L, 25000L)
      .contains(4))
    assert(ExecProfile.derivedWidth(spark, 100000L, 25000L).contains(4))
    assert(ExecProfile.derivedWidth(spark, 30000L, 25000L).contains(2))
    assert(ExecProfile.derivedWidth(spark, 10L, 25000L).contains(1))
    assert(ExecProfile.derivedWidth(spark, 0L, 25000L).contains(1))
  }

  test("withDerivedShuffle narrows + disables AQE only when active, " +
    "and restores the exact prior conf values afterwards") {
    val s = spark.newSession()
    val before = s.conf.getAll
    assert(before.get(SpKey).contains("4") && !before.contains(AqeKey))
    // large input: the scope must be a no-op — confs untouched inside
    ExecProfile.withDerivedShuffle(s, rows = 1000000L, 25000L) {
      assert(s.conf.getAll == before)
    }
    // small input: narrowed width + AQE off inside, restored after
    ExecProfile.withDerivedShuffle(s, rows = 10L, 25000L) {
      assert(s.conf.get(SpKey) == "1")
      assert(s.conf.get(AqeKey) == "false")
    }
    assert(s.conf.getAll == before)
  }

  test("withDerivedShuffle restores confs when the body throws, and " +
    "codegenOff rides the active scope") {
    val s = spark.newSession()
    val before = s.conf.getAll
    intercept[RuntimeException] {
      ExecProfile.withDerivedShuffle(s, 10L, 25000L, codegenOff = true) {
        assert(s.conf.get(WscKey) == "false")
        throw new RuntimeException("boom")
      }
    }
    assert(s.conf.getAll == before)
  }

  test("a fixture-tuned gate leaves conf.getAll unchanged") {
    val before = spark.conf.getAll
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    try graft.SparkEntry.queries("q253_fleet_apply")(spark, sf("sf0.001"))
      .collect()
    finally spark.sparkContext.getPersistentRDDs // the gate's checkpoints
      .foreach { case (id, rdd) => if (!persisted(id)) rdd.unpersist() }
    assert(spark.conf.getAll == before)
  }

  private case class ConfKey(key: String, default: String, other: String)

  private val scopeKeys = Seq(
    ConfKey(SpKey, "200", "3"),
    ConfKey(AqeKey, "true", "false"),
    ConfKey(WscKey, "true", "false"),
    ConfKey("spark.sql.codegen.factoryMode", "FALLBACK", "NO_CODEGEN"),
    ConfKey("spark.sql.autoBroadcastJoinThreshold", "10MB", "-1"),
    // unregistered: getOption has no default to answer for it
    ConfKey("spark.graft.spec.scopeProbe", "a", "b"))

  /** Key → value map over a random subset of `scopeKeys`. */
  private def genConfs(values: ConfKey => Seq[String])
    : Gen[Map[String, String]] =
    Gen.someOf(scopeKeys).flatMap { ks =>
      Gen.sequence[List[(String, String)], (String, String)](
        ks.map(k => Gen.oneOf(values(k)).map(k.key -> _)))
        .map(_.toMap)
    }

  /** A prior session state, the scopes nested inside it (outermost
    * first, depth 1–2), and whether the innermost body throws. */
  private case class Case(prior: Map[String, String],
                          scopes: List[Map[String, String]],
                          throws: Boolean)

  private val genCase: Gen[Case] = for {
    // a key absent from `prior` keeps the fresh session's own state:
    // unset, except shuffle.partitions, which SparkConf sets (to 4)
    prior <- genConfs(k => Seq(k.default, k.other))
    depth <- Gen.choose(1, 2)
    scopes <- Gen.listOfN(depth, genConfs(k => Seq(k.default, k.other)))
    throws <- Gen.oneOf(true, false)
  } yield Case(prior, scopes, throws)

  private class Boom extends RuntimeException("body threw")

  /** Open `scopes` outermost first; each level asserts its own values
    * are visible inside and that conf.getAll after it equals before. */
  private def nest(s: SparkSession, scopes: List[Map[String, String]],
                   throws: Boolean): Unit = scopes match {
    case Nil => if (throws) throw new Boom
    case confs :: inner =>
      val before = s.conf.getAll
      try ExecProfile.withConfs(s, confs) {
        confs.foreach { case (k, v) => assert(s.conf.get(k) == v) }
        nest(s, inner, throws)
      } finally assert(s.conf.getAll == before,
        s"scope $confs did not restore exactly")
  }

  test("withConfs restores conf.getAll exactly for any keys, prior " +
    "states, nesting depth and body outcome (property)") {
    val s = spark.newSession()
    val prop = Prop.forAll(genCase) { c =>
      val session = s.conf.getAll
      val thrown = ExecProfile.withConfs(s, c.prior) {
        try { nest(s, c.scopes, c.throws); false }
        catch { case _: Boom => true }
      }
      thrown == c.throws && s.conf.getAll == session
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(result.passed, Pretty.pretty(result))
  }

  // NOTE: the non-integer-width fallback (derivedWidth -> None, scope
  // inert) cannot be exercised through spark.conf here — stock Spark 4
  // validates spark.sql.shuffle.partitions as int at set() time; the
  // Try-parse guards vendor builds where the session inherits "auto".
}
