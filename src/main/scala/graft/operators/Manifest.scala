package graft.operators

  /** Versioned-directory manifest for a persisted index — the shared
    * operational substrate of EVERY index family this package persists
    * (eight): the exact-hash, MinHash-LSH and SimHash dedup indexes
    * ([[Dedup]]), the SemDeDup label state ([[Clustering]]), the
    * decontamination shingle index ([[Decontamination]]), the admission
    * funnel history ([[CorpusPipeline]]), and IVF / IVF-PQ
    * ([[Similarity]]). One contract, one enforcement point: any writer
    * of any family takes [[withLock]], any versioned rewrite goes
    * through [[publish]]/[[publishUnderLock]], and any reader resolves
    * tables through one [[snapshot]]. The writer protocol on top of it
    * is written once, in [[Lifecycle]]: the locked append
    * (data → tombstone prune → ingest log), the id-keyed retraction
    * ([[Tombstones.retractIds]]), the locked rewrite whose publish
    * folds pending tombstones, the flat-table compaction, the health
    * rows' fragment count, and the `foreachBatch` streaming ingest. A
    * family keeps only what is its own: row encoder, health aggregate
    * and probe, sort keys, distinct policy and partition count.
    *
    * The compactor NEVER touches a live table directory. A rewrite
    * lands under a fresh
    * name (`postings.parquet.v3`), then a tiny manifest file
    * (`_manifest.v3`) mapping logical table → physical directory is
    * created — file creation of a NEW name, so a reader either sees the
    * old manifest (old data, complete) or the new one (new data,
    * complete), never a half-state. The previous physical directory is
    * retained for one more publish (a grace window for readers that
    * resolved just before the flip); only grandparent versions are
    * garbage-collected. A fresh build with no manifest resolves every
    * table to its unversioned default (`<table>.parquet`), so the layout
    * is backward-compatible with pre-manifest indexes.
    *
    * Single-writer assumption: appends and compactions of ONE index must
    * not run concurrently with each other (readers are unrestricted) —
    * the same contract every log-pointer table format documents. EVERY
    * writer enforces it through the exclusive-create `_writer.lock`
    * ([[withLock]]): appends hold it for the whole file drop, and a
    * compaction/rebuild holds it across its READ→rewrite→flip span —
    * not just the flip — because an append landing files in the old
    * physical directory after the compactor's read but before its
    * manifest flip would be silently dropped when the old directory is
    * garbage-collected (the rows exist in no live table). The loser of
    * any collision throws BEFORE touching live state (no renames, no
    * manifest, no appended files, nothing orphaned); a streaming ingest
    * whose micro-batch loses simply fails that batch — restarting the
    * query replays it from the checkpoint (at-least-once, verified in
    * SamplingSpec). A lock left by a crashed writer is cleared with
    * [[breakLock]] (an operator decision — nothing else may hold it
    * under the single-writer contract). */
  private[operators] object Manifest {
    private val Name = """_manifest\.v(\d+)""".r

    private[operators] def fs(spark: org.apache.spark.sql.SparkSession,
                              path: String): org.apache.hadoop.fs.FileSystem =
      new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)

    private[operators] def exists(spark: org.apache.spark.sql.SparkSession,
                                  path: String): Boolean =
      fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

    /** All manifest versions present under `dir`, ascending. */
    private def versions(f: org.apache.hadoop.fs.FileSystem,
                         dir: String): Seq[Int] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).toSeq.map(_.getPath.getName).collect {
        case Name(v) => v.toInt
      }.sorted
    }

    /** A `key=value`-lines file as a map — the format of every
      * manifest and of the families' pinned-parameter files. */
    private def readParamsAt(f: org.apache.hadoop.fs.FileSystem,
                             path: String): Map[String, String] = {
      val in = f.open(new org.apache.hadoop.fs.Path(path))
      try {
        scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.contains('=')).map { line =>
            val Array(k, value) = line.split("=", 2)
            k -> value
          }.toMap
      } finally in.close()
    }

    private def readMap(f: org.apache.hadoop.fs.FileSystem, dir: String,
                        v: Int): Map[String, String] =
      readParamsAt(f, s"$dir/_manifest.v$v")

    private[operators] def readParams(
        spark: org.apache.spark.sql.SparkSession,
        path: String): Map[String, String] =
      readParamsAt(fs(spark, path), path)

    private def formatParams(params: Seq[(String, Any)],
                             eol: String): Array[Byte] =
      params.map { case (k, v) => s"$k=$v" }.mkString("", "\n", eol)
        .getBytes("UTF-8")

    /** Write `params` in [[readParams]]'s format, in the given order;
      * `eol` ends the last line (an existing file's bytes are kept). */
    private[operators] def writeParams(
        spark: org.apache.spark.sql.SparkSession, path: String,
        params: Seq[(String, Any)], eol: String = "\n"): Unit = {
      val out = fs(spark, path).create(new org.apache.hadoop.fs.Path(path),
        true)
      try out.write(formatParams(params, eol))
      finally out.close()
    }

    /** One consistent view of the index's table mapping: version + map.
      * Resolve EVERY table a query needs from ONE snapshot, so a publish
      * landing mid-query cannot pair new centroids with old postings. */
    case class Snapshot(version: Int, map: Map[String, String],
                        dir: String) {
      def path(table: String): String =
        s"$dir/${map.getOrElse(table, s"$table.parquet")}"
    }

    /** The data file of a table directory that Spark's own schema
      * inference reads: the first non-hidden file by qualified path.
      * Walks directories in path order and stops at the first file, so
      * a list-partitioned table costs one partition listing, not all. */
    private def firstDataFile(f: org.apache.hadoop.fs.FileSystem,
                              dir: org.apache.hadoop.fs.Path)
      : Option[org.apache.hadoop.fs.FileStatus] =
      f.listStatus(dir).toSeq
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
        .sortBy(s => s.getPath.toString + (if (s.isDirectory) "/" else ""))
        .iterator
        .flatMap(s => if (s.isDirectory) firstDataFile(f, s.getPath)
          else Some(s))
        .nextOption()

    /** A parquet footer: (the Spark schema its writer stored, if any;
      * its row count). Read on the driver — no Spark job. */
    private def footer(spark: org.apache.spark.sql.SparkSession,
                       file: org.apache.hadoop.fs.FileStatus)
      : (Option[org.apache.spark.sql.types.StructType], Long) = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file,
          spark.sparkContext.hadoopConfiguration))
      try {
        val meta = r.getFooter.getFileMetaData.getKeyValueMetaData
        (Option(meta.get("org.apache.spark.sql.parquet.row.metadata"))
          .map(org.apache.spark.sql.types.DataType.fromJson(_)
            .asInstanceOf[org.apache.spark.sql.types.StructType]),
          r.getRecordCount)
      } finally r.close()
    }

    /** Rows in one parquet file, from its footer (no Spark job). */
    private[operators] def rowCount(spark: org.apache.spark.sql.SparkSession,
                                    file: org.apache.hadoop.fs.FileStatus)
      : Long = footer(spark, file)._2

    /** The schema a table's writer stored: the Spark schema in the
      * footer of the file Spark's inference would read (the first data
      * file by path), plus the int `list` column of a list-partitioned
      * layout. None for a table with no data file, or one written
      * without Spark's schema metadata. */
    private[operators] def schemaOf(spark: org.apache.spark.sql.SparkSession,
                                    path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val f = fs(spark, path)
      (if (f.exists(p)) firstDataFile(f, p) else None).flatMap { first =>
        footer(spark, first)._1.map { s =>
          if (first.getPath.getParent.getName.startsWith("list="))
            s.add("list", org.apache.spark.sql.types.IntegerType)
          else s
        }
      }
    }

    /** Read an index table with [[schemaOf]] declared: the same frame
      * as `spark.read.parquet(path)`, without its schema-inference job.
      * A table [[schemaOf]] cannot describe is read with inference (and
      * a missing one fails as it does there). */
    private[operators] def read(spark: org.apache.spark.sql.SparkSession,
                                path: String)
      : org.apache.spark.sql.DataFrame =
      schemaOf(spark, path) match {
        case Some(s) => spark.read.schema(s).parquet(path)
        case None => spark.read.parquet(path)
      }

    def snapshot(spark: org.apache.spark.sql.SparkSession,
                 dir: String): Snapshot = {
      val f = fs(spark, dir)
      versions(f, dir).lastOption match {
        case Some(v) => Snapshot(v, readMap(f, dir, v), dir)
        case None => Snapshot(0, Map.empty, dir)
      }
    }

    /** Pin a SPECIFIC manifest version — the point-in-time read a
      * long-running probe uses to hold one consistent table mapping
      * across the grace window while publishes land around it
      * ([[snapshot]] always resolves the latest). Retention keeps the
      * pinned version's physical directories alive only until the
      * SECOND publish after it (the grace contract), so a pin is valid
      * for one publish, not forever; a version older than that — or
      * never published — throws with the live range in the message
      * rather than silently resolving half-GC'd paths. Version 0 is
      * the pre-manifest state (every table at its unversioned
      * default), pinnable only while no manifest exists yet. */
    def snapshotAt(spark: org.apache.spark.sql.SparkSession,
                   dir: String, version: Int): Snapshot = {
      val f = fs(spark, dir)
      val vs = versions(f, dir)
      if (version == 0 && vs.isEmpty) Snapshot(0, Map.empty, dir)
      else if (vs.contains(version))
        Snapshot(version, readMap(f, dir, version), dir)
      else throw new IllegalStateException(
        s"manifest version $version of $dir is not live " +
          s"(live: ${if (vs.isEmpty) "none (version 0)"
          else vs.mkString(",")}) — the pin outlived the grace window")
    }

    /** Publish freshly-written table directories in ONE manifest flip:
      * rename each tmp dir to `<table>.parquet.v<next>` (fresh names —
      * no live data is deleted), atomically create `_manifest.v<next>`
      * carrying the FULL updated mapping, then garbage-collect physical
      * directories referenced only by manifests older than the previous
      * one. Multi-table updates (a rebuild's centroids + postings) become
      * visible together, never interleaved. `drops` removes tables from
      * the mapping entirely (a folded-empty tombstone table leaving the
      * snapshot): the dropped table's current physical directory gets
      * the standard one-publish grace before GC, and readers fall back
      * to the (nonexistent) unversioned default — plan-free. */
    def publish(spark: org.apache.spark.sql.SparkSession, dir: String,
                updates: Seq[(String, String)],
                drops: Seq[String] = Nil): Unit =
      withLock(spark, dir) {
        publishLocked(fs(spark, dir), dir, updates, drops)
      }

    /** [[publish]] for callers ALREADY inside [[withLock]] (a
      * compaction holds the lock across its read→rewrite→flip span —
      * re-acquiring here would deadlock-by-throw on its own lock). */
    private[operators] def publishUnderLock(
        spark: org.apache.spark.sql.SparkSession, dir: String,
        updates: Seq[(String, String)],
        drops: Seq[String] = Nil): Unit =
      publishLocked(fs(spark, dir), dir, updates, drops)

    /** Run `f` holding the index's exclusive `_writer.lock` — the
      * enforcement point of the single-writer contract, shared by every
      * writer (append, ingest micro-batch, compaction, rebuild,
      * publish). The loser throws BEFORE touching any live state — its
      * inputs remain the caller's to retry with.
      *
      * Atomicity assumption: create(overwrite=false) is an atomic
      * create-if-absent on HDFS; on the local FS and on object stores
      * it is check-then-create, so two writers racing within that
      * window can both "win". The versioned-dir + fresh-manifest-name
      * layout keeps even that worst case from corrupting READERS (the
      * losers' renames fail on existing names); the lock is the
      * fail-fast layer, not the only defense. */
    private[operators] def withLock[T](
        spark: org.apache.spark.sql.SparkSession, dir: String)(f: => T): T = {
      val fsys = fs(spark, dir)
      val lock = new org.apache.hadoop.fs.Path(s"$dir/_writer.lock")
      val lockOut =
        try fsys.create(lock, false)
        catch {
          // only an existing lock is contention; any other IO failure
          // (permissions, transient FS error) must surface as itself,
          // not masquerade as "another writer"
          case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                    _: java.nio.file.FileAlreadyExistsException) =>
            throw new IllegalStateException(
              s"another writer holds $dir/_writer.lock (single-writer " +
                "contract). If the previous writer crashed, clear it " +
                "with Manifest.breakLock and retry.", e)
        }
      lockOut.close()
      try f
      finally if (!fsys.delete(lock, false))
        // a leaked lock blocks every future writer until breakLock —
        // make the leak loud instead of silently returning false
        org.slf4j.LoggerFactory.getLogger(Manifest.getClass).error(
          s"failed to remove $dir/_writer.lock; future writers will " +
            "fail until Manifest.breakLock clears it")
    }

    /** Remove a `_writer.lock` left behind by a crashed publish. Only
      * safe when no publish is actually running (operator decision). */
    def breakLock(spark: org.apache.spark.sql.SparkSession,
                  dir: String): Unit =
      fs(spark, dir).delete(
        new org.apache.hadoop.fs.Path(s"$dir/_writer.lock"), false)

    private def publishLocked(f: org.apache.hadoop.fs.FileSystem,
                              dir: String,
                              updates: Seq[(String, String)],
                              drops: Seq[String] = Nil): Unit = {
      val cur = versions(f, dir).lastOption match {
        case Some(v) => Snapshot(v, readMap(f, dir, v), dir)
        case None => Snapshot(0, Map.empty, dir)
      }
      val next = cur.version + 1
      val renamed = updates.map { case (table, tmp) =>
        val phys = s"$table.parquet.v$next"
        val dest = new org.apache.hadoop.fs.Path(s"$dir/$phys")
        // a crash between a previous publish's rename and its manifest
        // write can orphan a directory at this version name; no manifest
        // references it (or versions() would have counted it), so it is
        // garbage — clear it rather than failing every later publish
        if (f.exists(dest)) f.delete(dest, true)
        require(f.rename(new org.apache.hadoop.fs.Path(tmp), dest),
          s"publish rename $tmp -> $dir/$phys failed")
        table -> phys
      }
      val newMap = (cur.map ++ renamed) -- drops
      // a DROPPED table's mapping disappears, so readers fall back to
      // the bare `<table>.parquet` default — which may still exist ON
      // DISK from the table's pre-manifest life (the first versioned
      // flip keeps it one publish for version-0 pins) and would
      // resurrect STALE rows. The mapping existed in `cur` (drop
      // precondition), so nothing references the default: delete it
      // BEFORE the flip — a crash in between leaves the old mapping
      // live and the garbage default gone, never a stale fallback.
      drops.foreach { table =>
        if (cur.map.contains(table)) {
          val dflt = new org.apache.hadoop.fs.Path(
            s"$dir/$table.parquet")
          if (f.exists(dflt)) f.delete(dflt, true)
        }
      }
      // atomic flip: write to a tmp name, rename to the (new,
      // nonexistent) manifest name — readers never see a partial file.
      // overwrite=true: a stale .inprogress from a crash between a prior
      // attempt's create and rename is garbage (single-writer contract)
      // and must not block every later publish
      val tmpMf = new org.apache.hadoop.fs.Path(
        s"$dir/_manifest.v$next.inprogress")
      val out = f.create(tmpMf, true)
      try out.write(formatParams(newMap.toSeq.sorted, "\n"))
      finally out.close()
      require(f.rename(tmpMf,
        new org.apache.hadoop.fs.Path(s"$dir/_manifest.v$next")),
        s"manifest flip for $dir v$next failed")
      // retention: keep the physical dirs of versions `next` and
      // `cur.version` (the grace copy); delete older manifests and any
      // table directory neither of the two retained mappings references
      val live: Set[String] = newMap.values.toSet ++
        updates.map { case (table, _) =>
          cur.map.getOrElse(table, s"$table.parquet")
        } ++
        // a DROPPED table's pre-drop physical directory gets the same
        // one-publish grace as a superseded one: the previous manifest
        // (retained) still references it, so a reader pinned there must
        // keep resolving; the publish after this one GCs it
        drops.flatMap(cur.map.get)
      versions(f, dir).filter(_ < cur.version).foreach { w =>
        val old = readMap(f, dir, w)
        old.values.filterNot(live).foreach { phys =>
          f.delete(new org.apache.hadoop.fs.Path(s"$dir/$phys"), true)
        }
        f.delete(new org.apache.hadoop.fs.Path(s"$dir/_manifest.v$w"),
          false)
      }
      // unversioned defaults superseded two publishes ago: once a table
      // is mapped in BOTH retained manifests, its bare `<table>.parquet`
      // (the pre-manifest layout) can go
      if (cur.version > 0) updates.foreach { case (table, _) =>
        if (cur.map.contains(table)) {
          val dflt = s"$table.parquet"
          if (!live(dflt))
            f.delete(new org.apache.hadoop.fs.Path(s"$dir/$dflt"), true)
        }
      }
    }

    /** Drop the index back to the unversioned layout: every manifest,
      * then every versioned table directory. Fresh IN-PLACE builds call
      * this after overwriting the default tables, so a stale manifest
      * from an earlier compaction cannot shadow the new data. (An
      * in-place fresh build is documented reader-UNSAFE — overwrite
      * deletes live files; refit a LIVE index with
      * [[Similarity.ivfCompact]]`(rebuild = true)` /
      * [[Similarity.ivfPqRebuild]] instead, which flip the manifest.)
      * Also clears any tombstone table: a fresh build starts with no
      * retraction debt. */
    def reset(spark: org.apache.spark.sql.SparkSession,
              dir: String): Unit = {
      val f = fs(spark, dir)
      val p = new org.apache.hadoop.fs.Path(dir)
      if (f.exists(p)) {
        val entries = f.listStatus(p).toSeq.map(_.getPath)
        // manifests first: if this is interrupted midway, readers fall
        // back to the (just-written) defaults, never a deleted version
        entries.filter(_.getName.startsWith("_manifest.v"))
          .foreach(f.delete(_, false))
        entries.filter(_.getName.matches(""".+\.parquet\.v\d+"""))
          .foreach(f.delete(_, true))
        // a rebuilt corpus carries no retraction debt: stale tombstones
        // from the previous index generation must not keep deleting
        // freshly-built rows
        entries.filter(_.getName == "tombstones.parquet")
          .foreach(f.delete(_, true))
        // ...nor the previous generation's ingest history: the fresh
        // corpus was built from whole tables, not appended batches
        entries.filter(_.getName == "ingest_log.parquet")
          .foreach(f.delete(_, true))
        // a fresh build supersedes any in-flight or crashed publish, so
        // its stale writer lock must not block the index's future
        entries.filter(_.getName == "_writer.lock")
          .foreach(f.delete(_, false))
      }
    }
  }

  /** Key-level DELETE for every persisted index family — the
    * retraction verb (GDPR erasure, corpus-refresh takedowns) the
    * build/append/probe/compact lifecycle otherwise lacks. The design
    * is the standard log-structured one: a `…IndexDelete` appends the
    * retracted KEYS (ids, or content hashes for the exact family) to a
    * small `tombstones` table under the index's manifest — a locked
    * append, never a rewrite of corpus-sized data — and from that
    * moment every probe anti-joins the pending tombstones out of its
    * stored side, so retracted documents stop matching IMMEDIATELY at
    * the cost of one extra (usually broadcast-class) join per probe.
    * The next compaction folds the tombstones into its rewrite (the
    * retracted rows are physically dropped) and publishes an EMPTY
    * tombstone table in the same manifest flip, so a reader sees
    * either (old rows + pending tombstones) or (folded rows + no
    * tombstones), never a half-state. Health rows carry the pending
    * count as `deleted_pending`; [[Similarity.indexMaintenancePlan]]'s
    * `tombstoneDebtCeiling` turns unbounded debt into a `compact`
    * verdict.
    *
    * Contract note: a tombstone retracts a KEY, not a point-in-time
    * row — re-admitting a previously-deleted document requires folding
    * the tombstones first (compact), exactly as in any log-structured
    * store whose deletes are key-level. */
  private[operators] object Tombstones {
    import Manifest.{exists, fs}

    /** A compaction that folded every pending tombstone republishes the
      * table EMPTY (the manifest mapping only grows, so it cannot be
      * unmapped without leaving the still-physically-present default
      * path resolvable), and this marker inside the empty directory is
      * what keeps that steady state PLAN-FREE: [[readIfAny]] treats a
      * marked table as absent, so an index that once saw a delete does
      * not pay a parquet read + anti-join on every probe forever.
      * [[append]] removes the marker BEFORE writing new keys — the
      * crash ordering that can only ever cost a wasted join against an
      * empty table, never hide a real retraction. */
    private val EmptyMarker = "_empty"

    private def marked(spark: org.apache.spark.sql.SparkSession,
                       path: String): Boolean =
      exists(spark, s"$path/$EmptyMarker")

    private[operators] def writeEmptyMarker(
        spark: org.apache.spark.sql.SparkSession, path: String): Unit =
      fs(spark, path).create(
        new org.apache.hadoop.fs.Path(s"$path/$EmptyMarker"), true)
        .close()

    /** Locked append of key-shaped retraction rows to the index's
      * tombstone table (distinct-ed here). An EMPTY retraction touches
      * nothing — no lock, no marker removal, no part file: an empty
      * append would leave a readable 0-row table that every probe
      * anti-joins until the next compaction (a [[SnapshotDiff]] with
      * no removed rows feeds exactly that to every fleet index). The
      * keys are written once, to a private temp directory outside the
      * lock; its footers' row counts say whether anything was retracted
      * (no separate emptiness job), and only then are its part files
      * moved into the table under the lock. */
    def append(spark: org.apache.spark.sql.SparkSession, dir: String,
               keys: org.apache.spark.sql.DataFrame): Unit = {
      val f = fs(spark, dir)
      val tmp = new org.apache.hadoop.fs.Path(
        s"$dir/_tombstones.tmp.${java.util.UUID.randomUUID()}")
      try {
        keys.distinct().write.parquet(tmp.toString)
        val parts = Lifecycle.parquetFiles(spark, tmp.toString)
          .filter(Manifest.rowCount(spark, _) > 0)
        if (parts.nonEmpty) Manifest.withLock(spark, dir) {
          val p = Manifest.snapshot(spark, dir).path("tombstones")
          // marker first: keys-then-marker could crash into a state where
          // live retractions are invisibly masked as "folded"
          if (marked(spark, p))
            f.delete(new org.apache.hadoop.fs.Path(s"$p/$EmptyMarker"), false)
          f.mkdirs(new org.apache.hadoop.fs.Path(p))
          parts.foreach { s =>
            require(f.rename(s.getPath,
              new org.apache.hadoop.fs.Path(p, s.getPath.getName)),
              s"tombstone move ${s.getPath} -> $p failed")
          }
        }
      } finally f.delete(tmp, true)
    }

    /** The id-keyed retraction (every family but the content-keyed exact
      * hashes and the shingle-keyed decontam set): `ids`' `idCol` cast
      * to the stored `id` type of `table` — so the probes' anti-join
      * cannot silently type-mismatch — and [[append]]ed. The type comes
      * from the table's footer ([[Manifest.read]]), not an inference
      * job. */
    def retractIds(spark: org.apache.spark.sql.SparkSession,
                   snap: Manifest.Snapshot, table: String,
                   ids: org.apache.spark.sql.DataFrame,
                   idCol: String): Unit = {
      val idType = Manifest.read(spark, snap.path(table)).schema("id").dataType
      append(spark, snap.dir, ids.select(
        org.apache.spark.sql.functions.col(idCol).cast(idType).as("id")))
    }

    /** The pending tombstone table under one snapshot, if any. A table
      * carrying the folded-[[EmptyMarker]] counts as absent — the
      * post-fold steady state costs no plan. */
    def readIfAny(spark: org.apache.spark.sql.SparkSession,
                  snap: Manifest.Snapshot)
      : Option[org.apache.spark.sql.DataFrame] = {
      val p = snap.path("tombstones")
      if (exists(spark, p) && !marked(spark, p))
        Some(Manifest.read(spark, p))
      else None
    }

    /** Append-supersedes-delete: an append of keys that currently have
      * PENDING tombstones prunes those tombstones in the same locked
      * span (tiny-table rewrite behind a manifest flip), so the
      * re-added rows survive both probes and the next compaction —
      * without this, a doc deleted and later re-admitted (the
      * admission loop re-accepts it because its probes went silent)
      * would be silently dropped at the fold while the ingest log
      * still records its batch as ingested. Call AFTER the data-file
      * drop (a crash between data and prune leaves the batch
      * unlogged — [[CorpusPipeline.fleetIngestReconcile]] flags it and
      * the repair re-append closes the loop; the reverse order could
      * resurrect a GDPR-erased key with its replacement row missing).
      * Caveat, unchanged from the key-level-delete contract: pruning
      * also un-hides any not-yet-folded OLD rows of the key — identical
      * to the new rows by construction in the re-admission flow (same
      * content ⇒ same derived rows, folded by the family's dedup at
      * compaction); a content UPDATE under the same key still requires
      * compact-before-re-add. `keys` must be shaped like the tombstone
      * table (same columns). */
    def pruneOnAppend(spark: org.apache.spark.sql.SparkSession,
                      dir: String, snap: Manifest.Snapshot,
                      keys: org.apache.spark.sql.DataFrame): Unit =
      readIfAny(spark, snap).foreach { t =>
        val cols = t.columns.toSeq
        // tombstone tables are broadcast-class (distinct retracted
        // keys), so the hit check is one tiny job on the no-op path
        if (t.join(keys.selectExpr(cols: _*), cols, "left_semi")
          .limit(1).count() > 0) {
          val remaining = t
            .join(keys.selectExpr(cols: _*), cols, "left_anti")
            .distinct()
          val tmp = s"$dir/_prune.tmp.tombstones"
          remaining.coalesce(1).write.mode("overwrite").parquet(tmp)
          if (remaining.isEmpty) writeEmptyMarker(spark, tmp)
          Manifest.publishUnderLock(spark, dir,
            Seq("tombstones" -> tmp))
        }
      }

    /** Filter a stored-side frame down to its LIVE rows: anti-join the
      * pending tombstones on their own (key) columns. No tombstone
      * table → the frame passes through untouched, zero plan cost. */
    def live(spark: org.apache.spark.sql.SparkSession,
             snap: Manifest.Snapshot,
             df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
      readIfAny(spark, snap) match {
        case Some(t) => df.join(t, t.columns.toSeq, "left_anti")
        case None => df
      }

    /** Distinct pending retraction keys (0 with no tombstone table) —
      * the health row's `deleted_pending`. */
    def pending(spark: org.apache.spark.sql.SparkSession,
                snap: Manifest.Snapshot): Long =
      readIfAny(spark, snap).map(_.distinct().count()).getOrElse(0L)

    /** [[pending]] as a LAZY one-row frame, so a health/audit row can
      * crossJoin it into one collected plan instead of paying a
      * driver-side count job per index per reading — a fleet dashboard
      * over a thousand indexes is one action, not a thousand. Free
      * (constant plan) when no tombstones are pending. */
    def pendingAgg(spark: org.apache.spark.sql.SparkSession,
                   snap: Manifest.Snapshot)
      : org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.{count, lit}
      readIfAny(spark, snap)
        .map(_.distinct().agg(count(lit(1)).as("deleted_pending")))
        .getOrElse(spark.range(1)
          .select(lit(0L).as("deleted_pending")))
    }

    /** A compaction that folded its tombstones publishes an EMPTY
      * tombstone table in the same flip: returns the publish entry
      * (written to a tmp dir), or None when nothing was pending. The
      * empty table carries the [[EmptyMarker]], so the post-fold
      * steady state is plan-free for every subsequent probe. */
    def foldedForPublish(spark: org.apache.spark.sql.SparkSession,
                         dir: String, snap: Manifest.Snapshot)
      : Option[(String, String)] =
      readIfAny(spark, snap).map { t =>
        val tmp = s"$dir/_compact.tmp.tombstones"
        t.limit(0).coalesce(1).write.mode("overwrite").parquet(tmp)
        writeEmptyMarker(spark, tmp)
        "tombstones" -> tmp
      }

    /** The publish `drops` entry that lets a FOLDED-EMPTY tombstone
      * table finally LEAVE the manifest: [[foldedForPublish]] keeps the
      * mapping (pointing at a marked-empty directory) because a publish
      * historically only grew the map — this returns `Seq("tombstones")`
      * when the mapping exists and the table carries the folded marker,
      * so the SECOND fold (the next compaction with nothing pending)
      * shrinks the snapshot instead of republishing emptiness forever.
      * Probes stay plan-free afterwards (the unversioned default path
      * does not exist) and a later delete simply recreates the table at
      * the default path. Mutually exclusive with [[foldedForPublish]]
      * by construction: pending keys ⇒ no marker. */
    def dropIfFolded(spark: org.apache.spark.sql.SparkSession,
                     snap: Manifest.Snapshot): Seq[String] = {
      val p = snap.path("tombstones")
      if (snap.map.contains("tombstones") && exists(spark, p) &&
        marked(spark, p)) Seq("tombstones")
      else Nil
    }
  }

  /** Per-index record of which ACCEPTED batches were appended — the
    * cross-index atomicity story for multi-family admission. A daily
    * ingest appends one accepted batch to several index families
    * (exact hashes, MinHash bands, SimHash sigs, SemDeDup labels),
    * each under its OWN [[Manifest.withLock]] domain; a crash between
    * two appends leaves the families silently divergent — a doc
    * exact-indexed but not minhash-indexed passes every future
    * near-dup probe. Appends that pass a `batchId` therefore record it
    * in a tiny `ingest_log` table INSIDE the same locked span as the
    * data files (data first, then the log row: a crash between the two
    * flags the batch as missing and the repair re-append is folded by
    * that family's dedupe-at-compaction, whereas the reverse order
    * would hide real loss). [[CorpusPipeline.fleetIngestReconcile]]
    * diffs the batch-id sets across families and emits the repair
    * rows. */
  private[operators] object IngestLog {
    /** Record `batchId` under the caller's held lock + snapshot. */
    def record(spark: org.apache.spark.sql.SparkSession,
               snap: Manifest.Snapshot, batchId: String): Unit = {
      import spark.implicits._
      Seq(batchId).toDF("batch_id")
        .coalesce(1).write.mode("append").parquet(snap.path("ingest_log"))
    }

    /** The index's recorded batch ids (distinct; empty frame with the
      * right schema when no log exists). */
    def read(spark: org.apache.spark.sql.SparkSession,
             dir: String): org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      val p = Manifest.snapshot(spark, dir).path("ingest_log")
      if (Manifest.exists(spark, p))
        Manifest.read(spark, p).select("batch_id").distinct()
      else Seq.empty[String].toDF("batch_id")
    }

    /** Logged-batch count as a LAZY one-row frame (see
      * [[Tombstones.pendingAgg]] — same one-action-per-fleet point). */
    def countAgg(spark: org.apache.spark.sql.SparkSession,
                 dir: String): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.{count, lit}
      read(spark, dir).agg(count(lit(1)).as("ingest_batches"))
    }

    /** TRUE when the RAW log physically carries a repeated batch id —
      * the replay evidence compactions gate their duplicate-row fold
      * on: a fully-retried append logs its id again, and
      * [[graft.operators.CorpusPipeline.fleetIngestRepair]] records an
      * extra row after each executed re-append (the crash it repairs
      * left data WITHOUT a log row, so the repair itself must leave
      * the evidence — without it the next compaction would skip the
      * fold the repair's idempotence depends on). One tiny read (one
      * row per accepted batch), so the common no-replay path stays a
      * straight rewrite. Appends that never passed a `batchId` leave
      * no evidence: an untracked pipeline that replays appends keeps
      * its duplicates until a tracked compaction — the documented
      * trade for not paying a corpus-wide dedup on every fold. */
    def hasReplayEvidence(spark: org.apache.spark.sql.SparkSession,
                          snap: Manifest.Snapshot): Boolean = {
      import org.apache.spark.sql.functions.{col, count, lit}
      val p = snap.path("ingest_log")
      Manifest.exists(spark, p) &&
        Manifest.read(spark, p).groupBy("batch_id")
          .agg(count(lit(1)).as("_n")).where(col("_n") > 1)
          .limit(1).count() > 0
    }

    /** The extra log row [[hasReplayEvidence]] reads: recorded by a
      * repair AFTER its re-append succeeds (its own locked span —
      * the append already released the index lock). */
    def recordReplay(spark: org.apache.spark.sql.SparkSession,
                     dir: String, batchId: String): Unit =
      Manifest.withLock(spark, dir) {
        record(spark, Manifest.snapshot(spark, dir), batchId)
      }
  }

  /** Fused `(deleted_pending, ingest_batches)` reading — the pair every
    * health row used to attach as SEPARATE
    * `crossJoin(Tombstones.pendingAgg).crossJoin(IngestLog.countAgg)`
    * sides, each a one-row aggregate over its own table and each
    * costing a broadcast-exchange job per reading. One tagged union
    * over the tombstone table and the raw ingest log computes both
    * counts in a single aggregate subtree (one crossJoin instead of
    * two), and the common steady state — neither table exists —
    * attaches plan-free literal columns.
    *
    * Values are identical to the separate aggregates by construction:
    * `deleted_pending` counts DISTINCT tombstone rows, serialized with
    * `to_json` over the fixed key schema (injective for a fixed field
    * order, and never null, so even an all-null key row still counts —
    * exactly `distinct().count()`); `ingest_batches` counts distinct
    * batch ids ([[IngestLog.read]]'s `distinct()` + count; ids are
    * non-null by the `record` contract). */
  private[operators] object OpsStats {
    import org.apache.spark.sql.functions._

    /** The fused one-row aggregate, or None when neither source table
      * exists (the plan-free steady state). */
    def agg(spark: org.apache.spark.sql.SparkSession,
            snap: Manifest.Snapshot)
      : Option[org.apache.spark.sql.DataFrame] = {
      val tomb = Tombstones.readIfAny(spark, snap).map { t =>
        t.select(lit(1).as("_t"),
          to_json(struct(t.columns.map(col): _*)).as("_v"))
      }
      val logPath = snap.path("ingest_log")
      val log =
        if (Manifest.exists(spark, logPath))
          Some(Manifest.read(spark, logPath)
            .select(lit(2).as("_t"),
              col("batch_id").cast("string").as("_v")))
        else None
      val parts = tomb.toSeq ++ log.toSeq
      if (parts.isEmpty) None
      else Some(parts.reduce(_ unionByName _).agg(
        count_distinct(when(col("_t") === 1, col("_v")))
          .as("deleted_pending"),
        count_distinct(when(col("_t") === 2, col("_v")))
          .as("ingest_batches")))
    }

    /** Attach the pair to a health row's collected plan: one crossJoin
      * (or two literal columns when neither table exists). Column order
      * matches the replaced `crossJoin(pendingAgg).crossJoin(countAgg)`
      * chain exactly. */
    def attach(spark: org.apache.spark.sql.SparkSession,
               snap: Manifest.Snapshot)
              (main: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
      agg(spark, snap) match {
        case None => main.withColumn("deleted_pending", lit(0L))
          .withColumn("ingest_batches", lit(0L))
        case Some(a) => main.crossJoin(a)
      }

    /** The pair as driver values in ONE job (or none at all) — for the
      * health rows that build their output row driver-side and used to
      * pay a count job per reading ([[Tombstones.pending]] +
      * `IngestLog.read(...).count()`). */
    def counts(spark: org.apache.spark.sql.SparkSession,
               snap: Manifest.Snapshot): (Long, Long) =
      agg(spark, snap) match {
        case None => (0L, 0L)
        case Some(a) =>
          val r = a.head()
          (r.getLong(0), r.getLong(1))
      }
  }

  /** The persisted-index writer protocol, written once for every family
    * over [[Manifest]], [[Tombstones]] and [[IngestLog]]. Each step keeps
    * the safety property it exists for: the lock is held across
    * read → rewrite → flip, an append writes its data before pruning
    * tombstones and prunes before logging its batch, and every table a
    * rewrite replaces flips in ONE publish together with the folded
    * tombstone table. */
  private[operators] object Lifecycle {
    import org.apache.spark.sql.{Column, DataFrame, SparkSession}
    import org.apache.spark.sql.functions.{col, lit}

    /** The locked append tail: `write` drops the batch's rows into the
      * tables of the snapshot taken INSIDE the lock and returns the
      * batch's tombstone-shaped keys; then append-supersedes-delete
      * ([[Tombstones.pruneOnAppend]]), then the batch id
      * ([[IngestLog.record]]) — data first, so a crash can only leave a
      * batch unlogged (flagged by the reconcile), never hide loss. */
    def append(spark: SparkSession, dir: String, batchId: Option[String])
              (write: Manifest.Snapshot => DataFrame): Unit =
      Manifest.withLock(spark, dir) {
        val snap = Manifest.snapshot(spark, dir)
        val keys = write(snap)
        Tombstones.pruneOnAppend(spark, dir, snap, keys)
        batchId.foreach(IngestLog.record(spark, snap, _))
      }

    /** A locked read → rewrite → flip: `write` reads one snapshot taken
      * inside the lock, writes replacement tables to temp dirs and
      * returns the (table → temp dir) entries, which flip in ONE
      * publish. With `fold` the publish also carries the emptied
      * tombstone table ([[Tombstones.foldedForPublish]]) or drops an
      * already folded-empty one ([[Tombstones.dropIfFolded]]) — for
      * rewrites whose input excludes the pending tombstones. `scratch`
      * (a sibling temp index a rebuild wrote through its build path) is
      * removed after the flip, still under the lock. */
    def rewrite(spark: SparkSession, dir: String, fold: Boolean = true,
                scratch: Option[String] = None)
               (write: Manifest.Snapshot => Seq[(String, String)]): Unit =
      Manifest.withLock(spark, dir) {
        val snap = Manifest.snapshot(spark, dir)
        val updates = write(snap)
        if (fold) Manifest.publishUnderLock(spark, dir,
          updates ++ Tombstones.foldedForPublish(spark, dir, snap),
          drops = Tombstones.dropIfFolded(spark, snap))
        else Manifest.publishUnderLock(spark, dir, updates)
        scratch.foreach(p => Manifest.fs(spark, p)
          .delete(new org.apache.hadoop.fs.Path(p), true))
      }

    /** Full-row distinct only when the ingest log carries replay
      * evidence ([[IngestLog.hasReplayEvidence]]): replayed appends fold,
      * and the common no-replay rewrite stays straight. */
    def replayFolded(spark: SparkSession, snap: Manifest.Snapshot,
                     rows: DataFrame): DataFrame =
      if (IngestLog.hasReplayEvidence(spark, snap)) rows.distinct()
      else rows

    /** A family's compaction distinct policy. */
    sealed trait Dedupe
    object Dedupe {
      case object Always extends Dedupe
      case object OnReplay extends Dedupe
      case object Never extends Dedupe
    }

    /** A flat compaction's output partition count. */
    sealed trait Parts
    object Parts {
      /** Live table bytes / 256 MB, min 1 — a function of DATA SIZE, not
        * of the session's shuffle settings (an argless range leaves the
        * file count to AQE's coalescing), so `n_fragments` ceilings and
        * re-plan gates see a stable count at any corpus size. */
      case object BySize extends Parts
      /** Argless range: AQE's coalescing picks the count. */
      case object Auto extends Parts
      final case class Fixed(n: Int) extends Parts
    }

    /** The `.parquet` files of one table directory (recursively for a
      * list-partitioned layout). */
    def parquetFiles(spark: SparkSession, path: String,
                     recursive: Boolean = false)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val f = Manifest.fs(spark, path)
      val all =
        if (!recursive) f.listStatus(p).toSeq
        else {
          val it = f.listFiles(p, true)
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
        }
      all.filter(_.getPath.getName.endsWith(".parquet"))
    }

    /** Append-fragment count of one table directory — the health rows'
      * `n_fragments`. */
    def fragments(spark: SparkSession, path: String): Long =
      parquetFiles(spark, path).size.toLong

    /** The columns every flat health row ends with: dir, version and
      * the live `table`'s `n_fragments`. */
    def healthTail(spark: SparkSession, snap: Manifest.Snapshot,
                   table: String): Seq[Column] =
      Seq(lit(snap.dir).as("dir"), lit(snap.version).as("version"),
        lit(fragments(spark, snap.path(table))).as("n_fragments"))

    /** `rows` aggregated to one flat health row: the family's `aggs`,
      * then [[healthTail]]. */
    def healthRow(spark: SparkSession, snap: Manifest.Snapshot,
                  table: String, rows: DataFrame)(aggs: Column*): DataFrame =
      rows.agg(aggs.head, aggs.tail ++ healthTail(spark, snap, table): _*)

    /** A range-clustered rewrite of `rows` to `path`: `n` range
      * partitions on `keys` (argless when None), sorted within each. */
    def writeClustered(rows: DataFrame, keys: Seq[String], n: Option[Int],
                       path: String): Unit = {
      val k = keys.map(col)
      n.fold(rows.repartitionByRange(k: _*))(rows.repartitionByRange(_, k: _*))
        .sortWithinPartitions(k: _*)
        .write.mode("overwrite").parquet(path)
    }

    /** The flat-table compaction: the live rows of `table` (pending
      * tombstones anti-joined out), distinct-ed by the family's policy,
      * range-clustered on its sort `keys` into its partition count, and
      * flipped with the folded tombstone table in one publish. */
    def compactFlat(spark: SparkSession, dir: String, table: String,
                    keys: Seq[String], dedupe: Dedupe, parts: Parts): Unit =
      rewrite(spark, dir) { snap =>
        val path = snap.path(table)
        val live = Tombstones.live(spark, snap, Manifest.read(spark, path))
        val rows = dedupe match {
          case Dedupe.Always => live.distinct()
          case Dedupe.OnReplay => replayFolded(spark, snap, live)
          case Dedupe.Never => live
        }
        val n = parts match {
          case Parts.BySize =>
            val bytesPerPart = 256L << 20
            val bytes = parquetFiles(spark, path).map(_.getLen).sum
            Some(math.max(1L, (bytes + bytesPerPart - 1) / bytesPerPart)
              .toInt)
          case Parts.Auto => None
          case Parts.Fixed(k) => Some(k)
        }
        val tmp = s"$dir/_compact.tmp.$table"
        writeClustered(rows, keys, n, tmp)
        Seq(table -> tmp)
      }

    /** The streaming face of [[append]]: each non-empty micro-batch runs
      * `append` (at-least-once — a retried batch appends again and the
      * family's compaction is its dedupe point; a batch colliding with
      * another writer fails and the restarted query replays it). */
    def ingest(stream: DataFrame, checkpoint: String)
              (append: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
      stream.writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) append(batch)
        }
        .start()
  }
