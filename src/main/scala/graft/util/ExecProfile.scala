package graft.util

import org.apache.spark.sql.SparkSession
import scala.util.Try

/** Scoped session-conf mutation, and the input-size-derived shuffle
  * width built on it — the scale-adaptive pattern
  * [[graft.ml.CoordinateDescent]] introduced for its descent loop,
  * shared so the iterative graph family can key each round's shuffle
  * width on its measured edge count the same way.
  *
  * The adaptation is NOT a local-core-count tune: `derived =
  * min(sessionWidth, rows / rowsPerPartition + 1)`, so at production
  * row counts (rows ≥ rowsPerPartition × the session's configured
  * width) `derived == sessionWidth` and the scope is a no-op — AQE
  * stays on, partitions stay the cluster's. Only when the measured
  * input is small relative to the configured parallelism does the
  * scope narrow the shuffles and disable AQE (whose per-materialization
  * stage jobs and near-empty task launches dwarf the data work at that
  * size).
  */
object ExecProfile {

  private val SpKey = "spark.sql.shuffle.partitions"

  /** Run `body` with `confs` set on the session, then restore every key
    * in `confs` exactly — on return or throw. The prior state is read
    * from `conf.getAll`, which holds only the explicitly set keys: a key
    * that was set gets its old value back, a key that was not set is
    * unset again (so `getAll` after the scope equals `getAll` before).
    * `getOption` could not tell the two apart — it answers a registered
    * key's default for an unset key. Nested scopes restore in LIFO order.
    *
    * Session-global conf mutation: a scope must not open or close while
    * other queries run on the same session. All in-repo callers open
    * their scopes sequentially from one driver thread; work they overlap
    * (e.g. `inParallel` actions) runs INSIDE one scope and opens none. */
  def withConfs[T](spark: SparkSession, confs: Map[String, String])
                  (body: => T): T = {
    val before = spark.conf.getAll
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally confs.keys.foreach { k =>
      before.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  /** The width the scope would run at: `min(session, rows/rpp + 1)`,
    * or None when the session width is not a plain integer (e.g.
    * "auto" on AQE auto-optimized-shuffle builds — then no adaptation,
    * not a crash). */
  def derivedWidth(spark: SparkSession, rows: Long,
                   rowsPerPartition: Long): Option[Int] =
    spark.conf.getOption(SpKey)
      .flatMap(v => Try(v.trim.toInt).toOption)
      .map(sp => math.min(sp.toLong,
        rows / math.max(1L, rowsPerPartition) + 1L).toInt)

  /** Whole-stage codegen off, expressions interpreted. */
  private val CodegenOff = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Run `body` with the derived shuffle width and AQE off when (and
    * only when) the derived width is below the session's; otherwise the
    * body runs untouched. The scope is a [[withConfs]] scope, so the
    * session's confs afterwards are exactly those before.
    *
    * `codegenOff = true` additionally disables whole-stage codegen
    * inside an ACTIVE scope — for loops that materialize many DISTINCT
    * one-shot plans over an input this small, janino-compiling
    * kilobytes of Java per plan costs far more than interpreting the
    * rows (measured on the GAME descent loop: 25 materializations,
    * 9.3 s compiled vs 4.0 s interpreted at sf0.1). Same scale honesty
    * as the width: at production row counts the scope never activates
    * and codegen stays on. */
  def withDerivedShuffle[T](spark: SparkSession, rows: Long,
                            rowsPerPartition: Long = 25000L,
                            codegenOff: Boolean = false)
                           (body: => T): T = {
    val sessionParts = spark.conf.getOption(SpKey)
      .flatMap(v => Try(v.trim.toInt).toOption)
    derivedWidth(spark, rows, rowsPerPartition)
      .filter(d => sessionParts.exists(d < _)) match {
      case None => body
      case Some(d) =>
        val narrow = Map(SpKey -> d.toString,
          "spark.sql.adaptive.enabled" -> "false")
        withConfs(spark, if (codegenOff) narrow ++ CodegenOff else narrow)(body)
    }
  }
}
