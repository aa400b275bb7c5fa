package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data sanity validation.
  *
  * The reference runs per-row predicate validators over the input frame
  * (photon-client/.../data/DataValidators.scala:35-62,94-150) in three
  * modes: NONE, VALIDATE_FULL, VALIDATE_SAMPLE. Each validator is a plain
  * predicate, so the idiomatic Spark form is a single pass computing all
  * violation counts at once with conditional aggregation — one job instead
  * of one `filter().count()` job per rule, which is the difference between
  * 1 and N scans at 100 TB.
  */
object Validators {
  case class Rule(name: String, violated: Column)

  /** VIOLATION predicate: true when the value is null, NaN, or ±Inf —
    * i.e. NOT a usable finite double. Named for the violation so rule
    * polarity reads correctly at call sites. */
  def notFinite(c: Column): Column = c.isNull || isnan(c) ||
    (c === Double.PositiveInfinity) || (c === Double.NegativeInfinity)

  /** One-pass violation counts: returns (rule, violations) rows. */
  def check(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "check() needs at least one rule")
    // positional aliases keep arbitrary rule names (dashes, quotes,
    // spaces) out of the SQL the stack() melt is parsed from
    val aggs = rules.zipWithIndex.map { case (r, i) =>
      sum(when(r.violated, 1L).otherwise(0L)).as(s"_v$i")
    }
    val counted = df.agg(aggs.head, aggs.tail: _*)
    def q(s: String): String = "'" + s.replace("\\", "\\\\")
      .replace("'", "\\'") + "'"
    counted.selectExpr(
      s"stack(${rules.size}, " +
        rules.zipWithIndex.map { case (r, i) => s"${q(r.name)}, _v$i" }
          .mkString(", ") +
        ") as (rule, violations)")
  }

  /** Throw if any rule is violated (VALIDATE_FULL semantics). */
  def enforce(df: DataFrame, rules: Seq[Rule]): Unit = {
    val bad = check(df, rules).filter(col("violations") > 0).collect()
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        "validation failed: " + bad.map(r => s"${r.get(0)}=${r.get(1)}")
          .mkString(", "))
  }
}
