package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact (order-independent) aggregation helpers.
  *
  * Summing IEEE doubles is order-dependent, so a distributed Spark sum and a
  * single-threaded oracle sum of the same values can differ in the last ulps.
  * Casting through fixed-point decimals makes every sum exact and therefore
  * independent of partitioning / aggregation order — the same trick works in
  * any engine, so cross-engine results hash-match bit for bit.
  *
  * This matters at 100 TB for reproducibility too: a decimal sum gives the
  * same answer on 1 executor or 1000.
  */
object Exact {
  /** Cast to a fixed-point decimal. Default (18,4) fits money-like
    * columns. CONTRACT: values must fit `precision − scale` integer
    * digits — Spark's non-ANSI cast turns an overflow into NULL, which
    * sum() would then silently skip. Callers aggregating unbounded
    * magnitudes must pick a precision to match (the mirrored DuckDB
    * oracle must use the same precision, where overflow ERRORS — so a
    * bound violation surfaces as an oracle failure, not silent drift). */
  def dec(c: Column, precision: Int = 18, scale: Int = 4): Column =
    c.cast(s"decimal($precision,$scale)")

  /** Exact sum of a double column via decimal; emitted as double. */
  def sumExact(c: Column, precision: Int = 18, scale: Int = 4): Column =
    sum(dec(c, precision, scale)).cast("double")

  /** Exact mean: decimal sum (deterministic) divided by count (IEEE division
    * of identical operands is deterministic across engines). */
  def avgExact(c: Column, precision: Int = 18, scale: Int = 6): Column =
    sum(dec(c, precision, scale)).cast("double") / count(c)
}
