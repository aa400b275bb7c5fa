package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-time CLONE of a manifest-managed index — the fleet's
  * backup/restore and blue-green deployment verb. Every persisted
  * family here (exact/MinHash/SimHash/SemDeDup/decontam/IVF/IVF-PQ/
  * funnel, plus fleet-ops metadata like the [[FleetRunbook]] and the
  * probe log) lives behind the same [[Manifest]] contract, so ONE
  * clone operator serves all of them: resolve a single consistent
  * snapshot (pinned via `version`, else latest), copy each mapped
  * table's files byte-for-byte, and publish the copies at the clone
  * target as manifest v1.
  *
  * Scale posture: the driver only touches the bounded FILE LIST (one
  * recursive listing per table — the same listing every health row
  * already pays); the byte movement is a distributed job, one task per
  * file batch, each executor streaming its files through the Hadoop
  * filesystem API. No data passes through the driver and no parquet
  * decode happens at all — a copy is I/O-bound by construction, and
  * byte-identity means the clone inherits the source's layout
  * (list-partitioned postings, coalesced broadcast-class tables)
  * exactly.
  *
  * Concurrency contract: the clone is a READER of the source — it
  * takes no source lock, so appends/compactions keep landing while it
  * copies. It reads every table through one snapshot, so it can never
  * mix versions; like any pinned reader it relies on the grace window
  * (a source that publishes TWICE mid-copy can GC the pinned file set
  * — the copy task then fails loudly and the clone publishes nothing).
  * The TARGET is locked for the final publish and must be virgin (no
  * manifest, no live tables): a clone is a new index, never a merge.
  * The copied tombstone table (pending debt and the folded `_empty`
  * marker both) travels with the clone, so a clone of an index with
  * unfolded retractions keeps hiding them — erase-audit evidence is
  * preserved across the copy. */
object IndexClone {

  /** Clone `srcDir`'s index at one consistent snapshot into `dstDir`
    * (virgin). Returns the report: one row per table —
    * (table, files, bytes, src_version) — where `src_version` is the
    * source manifest version the whole clone was resolved through.
    * `version = Some(v)` pins a specific manifest version
    * ([[Manifest.snapshotAt]] — throws if the pin outlived the grace
    * window); default clones the latest. */
  def cloneIndex(spark: org.apache.spark.sql.SparkSession,
                 srcDir: String, dstDir: String,
                 version: Option[Int] = None,
                 parallelism: Int = 64): DataFrame = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val snap = version match {
      case Some(v) => Manifest.snapshotAt(spark, srcDir, v)
      case None => Manifest.snapshot(spark, srcDir)
    }
    // the snapshot's table set: everything the manifest maps, plus any
    // pre-manifest table still at its unversioned `<name>.parquet`
    // default (a fresh-built index that never published has an empty
    // map — its tables are all defaults)
    val srcFs = Manifest.fs(spark, srcDir)
    val defaults = defaultsAt(spark, srcDir).map(_.stripSuffix(".parquet"))
    val tables = (snap.map.keys.toSeq ++ defaults).distinct.sorted
      .filter(t => Manifest.exists(spark, snap.path(t)))
    require(tables.nonEmpty,
      s"cloneIndex: no tables to clone at $srcDir " +
        s"(version ${snap.version})")
    val dstFs = Manifest.fs(spark, dstDir)
    require(Manifest.snapshot(spark, dstDir).map.isEmpty &&
      defaultsAt(spark, dstDir).isEmpty,
      s"cloneIndex: target $dstDir is not virgin — a clone is a new " +
        "index, never a merge")
    // bounded driver work: the per-table recursive file listing
    def listFiles(root: String): Seq[(String, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val it = srcFs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      while (it.hasNext) {
        val st = it.next()
        // keep `_`-prefixed markers (_SUCCESS, the folded-tombstone
        // `_empty`) — they carry semantics; drop `.`-hidden checksum
        // files, the copy writes its own
        if (st.isFile && !st.getPath.getName.startsWith("."))
          out += ((st.getPath.toString, st.getLen))
      }
      out.toSeq
    }
    val perTable: Seq[(String, Seq[(String, Long)])] =
      tables.map(t => t -> listFiles(snap.path(t)))
    val copies: Seq[(String, String)] = perTable.flatMap {
      case (t, files) =>
        val root = snap.path(t).stripSuffix("/")
        val rootQ = srcFs.makeQualified(
          new org.apache.hadoop.fs.Path(root)).toString
        files.map { case (src, _) =>
          require(src.startsWith(rootQ), s"clone listing escaped $rootQ: $src")
          val rel = src.stripPrefix(rootQ).stripPrefix("/")
          (src, s"$dstDir/_clone.tmp.$t/$rel")
        }
    }
    // the distributed byte movement: executors rebuild the session's
    // Hadoop conf from broadcast entries (Configuration itself is not
    // serializable) and stream each file src → dst
    val confEntries: Seq[(String, String)] = {
      val it = hconf.iterator()
      val b = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
      b.toSeq
    }
    val confBc = spark.sparkContext.broadcast(confEntries)
    copies.toDF("src", "dst")
      .repartition(math.max(1, math.min(parallelism, copies.size)))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val c = new org.apache.hadoop.conf.Configuration(false)
        confBc.value.foreach { case (k, v) => c.set(k, v) }
        rows.foreach { r =>
          val src = new org.apache.hadoop.fs.Path(r.getString(0))
          val dst = new org.apache.hadoop.fs.Path(r.getString(1))
          val sFs = src.getFileSystem(c)
          val dFs = dst.getFileSystem(c)
          dFs.mkdirs(dst.getParent)
          if (!org.apache.hadoop.fs.FileUtil.copy(sFs, src, dFs, dst,
            false, true, c))
            throw new java.io.IOException(s"clone copy $src -> $dst failed")
        }
      }
    // one locked flip publishes every copied table together as the
    // clone's manifest v1 — readers of the target never see a partial
    // clone, and the target's writer lock now guards it independently
    Manifest.publish(spark, dstDir,
      tables.map(t => t -> s"$dstDir/_clone.tmp.$t"))
    perTable.map { case (t, files) =>
      (t, files.size.toLong, files.map(_._2).sum)
    }.toDF("table", "files", "bytes")
      .withColumn("src_version", lit(snap.version.toLong))
  }

  private def defaultsAt(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Seq[String] = {
    if (!Manifest.exists(spark, dir)) Seq.empty
    else Manifest.fs(spark, dir)
      .listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
  }
}
