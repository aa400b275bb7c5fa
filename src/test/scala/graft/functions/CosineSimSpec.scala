package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native CosineSim expression must be bit-identical to the
  * declarative dot/√(‖a‖²·‖b‖²) formulation (the oracle-mirrored
  * arithmetic), in both codegen and interpreted modes, and must stay
  * inside whole-stage codegen (the point of replacing the UDF). */
class CosineSimSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = (1 to 200).map { i =>
    (i.toLong,
      Array.tabulate(64)(j => math.sin(i * 0.7 + j * 1.3) * (j + 1)),
      Array.tabulate(64)(j => math.cos(i * 1.1 - j * 0.5) / (j + 1)))
  }.toDF("id", "a", "b")

  test("bit-identical to the sequential HOF dot/norm formulation") {
    val hof = VectorOps.dot(col("a"), col("b")) /
      sqrt(VectorOps.normSq(col("a")) * VectorOps.normSq(col("b")))
    val rows = vecs.select(col("id"),
      VectorOps.cosine(col("a"), col("b")).as("fast"), hof.as("ref"))
      .collect()
    rows.foreach { r =>
      // exact double equality, not a tolerance: same summation order
      assert(java.lang.Double.compare(r.getDouble(1), r.getDouble(2)) == 0,
        s"id=${r.getLong(0)}: ${r.getDouble(1)} != ${r.getDouble(2)}")
    }
  }

  test("seeded random sweep: bit-identical to HOF across dims and magnitudes") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 300).map { i =>
      val d = 1 + rnd.nextInt(96)
      def vec() = Array.fill(d)(
        (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(13) - 6))
      (i.toLong, vec(), vec())
    }.toDF("id", "a", "b")
    val hof = VectorOps.dot(col("a"), col("b")) /
      sqrt(VectorOps.normSq(col("a")) * VectorOps.normSq(col("b")))
    rows.select(VectorOps.cosine(col("a"), col("b")).as("fast"),
      hof.as("ref")).collect().foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0,
        s"${r.getDouble(0)} != ${r.getDouble(1)}")
    }
  }

  test("length mismatch and null input yield NULL; zero vector yields NaN") {
    val df = Seq(
      (1L, Some(Array(1.0, 2.0)), Some(Array(1.0, 2.0, 3.0))),
      (2L, None, Some(Array(1.0, 2.0))),
      (3L, Some(Array(0.0, 0.0)), Some(Array(1.0, 2.0)))
    ).toDF("id", "a", "b")
    val rows = df.select(col("id"),
      VectorOps.cosine(col("a"), col("b")).as("c")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null
        else java.lang.Double.valueOf(r.getDouble(1)))).toMap
    assert(rows(1L) == null)
    assert(rows(2L) == null)
    // a null ELEMENT yields NULL, never a garbage score read off
    // uninitialized buffer bytes — in both codegen and interpreted eval
    val holey = Seq(
      (1L, Seq[java.lang.Double](1.0, null, 3.0),
        Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0, 3.0),
        Seq[java.lang.Double](1.0, 2.0, 3.0))
    ).toDF("id", "a", "b")
    val hr = holey.select(col("id"),
      VectorOps.cosine(col("a"), col("b")).as("c")).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(hr(1L), "null element must yield NULL")
    assert(!hr(2L), "dense row must still score")
    assert(rows(3L) != null && rows(3L).isNaN)
  }

  test("interpreted eval matches codegen bit-for-bit") {
    val sel = vecs.select(col("id"),
      VectorOps.cosine(col("a"), col("b")).as("c"))
    val gen = sel.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val interp = graft.util.ExecProfile.withConfs(spark,
        Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN")) {
      sel.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(gen == interp)
  }

  test("scoring projection stays inside whole-stage codegen (no UDF)") {
    // repartition defeats local-relation folding so the projection
    // actually plans as an exec stage; collect first so AQE finalizes
    // the plan (codegen spans only appear in the final plan)
    val sel = vecs.repartition(2)
      .select(VectorOps.cosine(col("a"), col("b")))
    sel.collect()
    val plan = sel.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    // the `*(n)` prefix is the compact-tree marker for a
    // WholeStageCodegen span containing the projection
    assert("\\*\\(\\d+\\) Project \\[cosine_sim".r
      .findFirstIn(plan).isDefined, plan)
  }
}
