package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted per-fleet RUNBOOK of index side inputs — the table that
  * lets the one-call maintenance loop ([[Similarity.fleetHealth]] →
  * [[Similarity.indexMaintenancePlan]] →
  * [[Similarity.fleetMaintenanceApply]]) go fully quiet without a
  * hand-held `corpora` map. Some fleet actions need an input only an
  * operator used to supply: a PQ `rebuild` needs the embedding store
  * (codes cannot reconstruct vectors), a decontam `rebuild` needs the
  * remaining benchmark suites, a SemDeDup `rebuild` needs a chosen k,
  * and the text families' `dedup_prepass` needs the corpus text.
  * Before this table existed, every scheduled caller had to rebuild
  * the `corpora` map by hand and the unattended fleet loop permanently
  * `skipped` those rows. One runbook row per index dir:
  *
  *   - `dir` — the index directory the row configures;
  *   - `side_input_path` — parquet path of the side input (embedding
  *     store for `ivf`/`ivf_pq`/`semdedup`, suite/corpus text table
  *     for `decontam`/`minhash`/`simhash`/`exact`);
  *   - `id_col` / `payload_col` — that table's id column and payload
  *     column (vector column for the vector families, text column for
  *     the text families);
  *   - `target_cluster_size` (nullable) — the SemDeDup k POLICY:
  *     a rebuild re-clusters at k = ⌈n / target⌉, so the knob scales
  *     with the corpus instead of freezing a k that falls behind it.
  *
  * The table is fleet-ops metadata (one row per index — broadcast-class
  * forever), persisted under its own [[Manifest]] dir with the same
  * writer-lock + versioned-flip contract as every other table here, so
  * a runbook update lands atomically under a running fleet loop. */
object FleetRunbook {

  /** One resolved runbook row. */
  case class Entry(path: String, idCol: String, payloadCol: String,
                   targetClusterSize: Option[Long])

  /** Publish the runbook (full replacement behind one manifest flip —
    * the table is one row per index, a rewrite is the honest update).
    * `entries` columns: dir, side_input_path, id_col, payload_col,
    * and optionally target_cluster_size. */
  def save(spark: org.apache.spark.sql.SparkSession, dir: String,
           entries: DataFrame): Unit =
    Lifecycle.rewrite(spark, dir) { _ =>
      val tmp = s"$dir/_save.tmp.runbook"
      val withK =
        if (entries.columns.contains("target_cluster_size")) entries
        else entries.withColumn("target_cluster_size",
          lit(null).cast("long"))
      withK.select(col("dir").cast("string"),
          col("side_input_path").cast("string"),
          col("id_col").cast("string"),
          col("payload_col").cast("string"),
          col("target_cluster_size").cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      Seq("runbook" -> tmp)
    }

  /** The persisted runbook rows (empty frame when none saved yet). */
  def read(spark: org.apache.spark.sql.SparkSession,
           dir: String): DataFrame = {
    import spark.implicits._
    val p = Manifest.snapshot(spark, dir).path("runbook")
    if (Manifest.exists(spark, p)) spark.read.parquet(p)
    else Seq.empty[(String, String, String, String, Option[Long])]
      .toDF("dir", "side_input_path", "id_col", "payload_col",
        "target_cluster_size")
  }

  /** The runbook as a dir-keyed map — ONE bounded collect per fleet
    * verb (one row per index by contract), so per-row resolution
    * inside the apply loop is a map lookup, not a job. */
  def entries(spark: org.apache.spark.sql.SparkSession,
              dir: String): Map[String, Entry] =
    read(spark, dir)
      .select("dir", "side_input_path", "id_col", "payload_col",
        "target_cluster_size")
      .collect()
      .map(r => r.getString(0) -> Entry(r.getString(1), r.getString(2),
        r.getString(3), if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .toMap

  /** A fleet verb's side inputs: the caller's frames (`given`, by index
    * dir) win, and the runbook rows answer for every dir they omit. */
  private[graft] final case class SideInputs(
      spark: org.apache.spark.sql.SparkSession,
      given: String => Option[DataFrame], runbook: Map[String, Entry]) {
    /** The dir's side input with (idName, payloadName) columns; `shape`
      * applies to a frame the runbook supplies. */
    def get(dir: String, idName: String, payloadName: String,
            shape: DataFrame => DataFrame = identity): Option[DataFrame] =
      given(dir).orElse(runbook.get(dir).map(e =>
        shape(loadSideInput(spark, e, idName, payloadName))))
  }

  /** The side inputs of one fleet verb call: the runbook at `runbookDir`
    * is ONE bounded collect. */
  private[operators] def sides(spark: org.apache.spark.sql.SparkSession,
                               given: String => Option[DataFrame],
                               runbookDir: Option[String]): SideInputs =
    SideInputs(spark, given,
      runbookDir.map(entries(spark, _)).getOrElse(Map.empty))

  /** Load an entry's side input with canonical column names — the
    * shape the family's operator expects (`id`/`v` for vector
    * families, `id`/`text` for text families). */
  def loadSideInput(spark: org.apache.spark.sql.SparkSession,
                    e: Entry, idName: String,
                    payloadName: String): DataFrame =
    spark.read.parquet(e.path)
      .select(col(e.idCol).as(idName), col(e.payloadCol).as(payloadName))
}
