package graft.operators

import graft.functions.{TextFunctions => TF}
import IndexFamily.{Batch, Caps, Erase}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One persisted index family as it lies on disk: the tag the fleet
  * verbs report (`name`), the table whose presence in a manifest
  * snapshot identifies the family (`keyTable`), and the family's
  * append, delete, compact, light health, maintenance action, fleet
  * erase and erase-audit keys. Every fleet verb dispatches through
  * [[IndexFamily.at]] and these methods, so adding or changing a family
  * is one value here. */
private[graft] sealed abstract class IndexFamily(val name: String,
                                                 val keyTable: String) {
  /** Rows are retracted and re-appended by document (false for the
    * shingle-keyed decontam set and the funnel history). */
  def docKeyed: Boolean = true
  /** [[Similarity.fleetEraseAudit]] can count retracted keys here. */
  def audited: Boolean = true
  def append(s: SparkSession, dir: String, b: Batch): Unit
  /** Retract `docs` ([[Tombstones]]): by `idCol` here, by content where
    * the family is content-keyed. */
  def delete(s: SparkSession, dir: String, docs: DataFrame, idCol: String,
             textCol: String): Unit =
    Tombstones.retractIds(s, Manifest.snapshot(s, dir), keyTable,
      docs.select(col(idCol)), idCol)
  def compact(s: SparkSession, dir: String): Unit
  /** The recall-free health row. */
  def health(s: SparkSession, dir: String, c: Caps): DataFrame

  /** A planned maintenance action (other than `none`) as the fleet
    * report's (status, detail). */
  def maintain(s: SparkSession, dir: String, action: String,
               side: FleetRunbook.SideInputs): (String, String) =
    if (action == "compact") Similarity.attempt(compact(s, dir))
    else noOperator(action)

  protected def noOperator(action: String): (String, String) =
    ("skipped", s"no $action operator for family $name")

  /** [[Similarity.fleetDelete]]'s (status, detail) for this family. */
  def erase(s: SparkSession, dir: String, e: Erase): (String, String) =
    Similarity.attempt(delete(s, dir, e.docs, e.idCol, "text"))

  /** [[Similarity.fleetEraseAudit]]'s view of the retracted docs: their
    * keys in the key table's key space as (rows, key column), None
    * where they cannot be computed (no text for a content- or
    * shingle-keyed family). */
  def eraseKeys(s: SparkSession, snap: Manifest.Snapshot,
                e: Erase): Option[(DataFrame, String)] = {
    val idType = Manifest.read(s, snap.path(keyTable)).schema("id").dataType
    Some((e.docs.select(col(e.idCol).cast(idType).as("id")).distinct(),
      "id"))
  }

  /** The retracted keys the family legitimately keeps: rows to count, or
    * a literal (-1 = not decidable). */
  def residue(s: SparkSession, dir: String,
              e: Erase): Either[Long, DataFrame] = Left(0L)
}

private[graft] object IndexFamily {

  /** Every family, in sniff order: a dir holding several key tables is
    * the first family listed. */
  val sniffOrder: Seq[IndexFamily] =
    Seq(IvfPq, Ivf, MinHash, SimHash, SemDeDup, Decontam, Exact, Funnel)

  /** The family stored at `snap`: the first whose key table exists. */
  def at(s: SparkSession, snap: Manifest.Snapshot): Option[IndexFamily] =
    sniffOrder.find(f => Manifest.exists(s, snap.path(f.keyTable)))

  def named(name: String): Option[IndexFamily] =
    sniffOrder.find(_.name == name)

  /** The fleet reports' family column: `unknown` for an unrecognized
    * dir. */
  def tag(f: Option[IndexFamily]): String = f.fold("unknown")(_.name)

  /** Appended rows: `idCol` plus the family's payload, `textCol` for the
    * text families and `vecCol` for the vector and embedding families,
    * logged under `batchId`. */
  final case class Batch(rows: DataFrame, idCol: String, textCol: String,
                         vecCol: String, batchId: Option[String])

  /** Health caps: the banded families' hot buckets, SemDeDup's hot
    * clusters. */
  final case class Caps(hotBucket: Int = 10000, hotCluster: Long = 100000L)

  /** A fleet erase's inputs: the retracted docs keyed by `idCol`, their
    * `textCol` for the content- and shingle-keyed families, the
    * post-refresh `survivors` that keep a shared text's hash live, and
    * the remaining benchmark suites of a decontam rebuild. */
  final case class Erase(docs: DataFrame, idCol: String,
                         textCol: Option[String],
                         survivors: Option[DataFrame],
                         remaining: FleetRunbook.SideInputs)

  /** IVF-Flat and IVF-PQ: one inverted-list body in [[Similarity]]. */
  sealed abstract class Inverted(name: String, keyTable: String)
      extends IndexFamily(name, keyTable) {
    /** Codes cannot reconstruct vectors: a refit, a rescoring and the
      * exact side of a recall probe read the embedding store. */
    def needsStore: Boolean
    protected def vectors(b: Batch): DataFrame =
      b.rows.select(col(b.idCol).as("id"), col(b.vecCol).as("v"))
    def health(s: SparkSession, dir: String, c: Caps): DataFrame =
      Similarity.ivfIndexHealthLight(s, dir)
    override def maintain(s: SparkSession, dir: String, action: String,
                          side: FleetRunbook.SideInputs): (String, String) = {
      val corpus = side.get(dir, "id", "v")
      if (needsStore && action == "rebuild" && corpus.isEmpty)
        ("skipped", "PQ rebuild needs the embedding store in corpora or " +
          "the runbook")
      else Similarity.attempt(
        Similarity.indexMaintenanceApply(s, dir, action, corpus))
    }
  }

  case object Ivf extends Inverted("ivf", "postings") {
    val needsStore = false
    def append(s: SparkSession, dir: String, b: Batch): Unit =
      Similarity.ivfAppend(s, dir, vectors(b), b.batchId)
    def compact(s: SparkSession, dir: String): Unit =
      Similarity.ivfCompact(s, dir)
  }

  case object IvfPq extends Inverted("ivf_pq", "codes") {
    val needsStore = true
    def append(s: SparkSession, dir: String, b: Batch): Unit =
      Similarity.ivfPqAppend(s, dir, vectors(b), b.batchId)
    def compact(s: SparkSession, dir: String): Unit =
      Similarity.ivfPqCompact(s, dir)
  }

  /** MinHash and SimHash: one banded-bucket body in [[Dedup]] over the
    * layout each resolves for its dir. */
  sealed abstract class Banded(name: String, keyTable: String)
      extends IndexFamily(name, keyTable) {
    private[operators] def layout(s: SparkSession, dir: String): Dedup.Banded
    def append(s: SparkSession, dir: String, b: Batch): Unit =
      Dedup.append(layout(s, dir), s, dir, b.rows, b.idCol, b.textCol,
        b.batchId)
    def compact(s: SparkSession, dir: String): Unit =
      Dedup.compact(layout(s, dir), s, dir)
    def health(s: SparkSession, dir: String, c: Caps): DataFrame =
      Dedup.health(layout(s, dir), s, dir, c.hotBucket)
    override def maintain(s: SparkSession, dir: String, action: String,
                          side: FleetRunbook.SideInputs): (String, String) = {
      val corpus = side.get(dir, "id", "text")
      if (action == "dedup_prepass" && corpus.isEmpty)
        ("skipped", "dedup_prepass needs the corpus text in corpora or " +
          "the runbook")
      else Similarity.attempt(
        Dedup.maintenanceApply(layout(s, dir), s, dir, action, corpus))
    }
  }

  /** Its parameters are pinned in the dir's `_minhash_meta`. */
  case object MinHash extends Banded("minhash", "bands") {
    private[operators] def layout(s: SparkSession, dir: String): Dedup.Banded =
      Dedup.pinned(s, dir)
  }

  case object SimHash extends Banded("simhash", "sigs") {
    private[operators] def layout(s: SparkSession, dir: String): Dedup.Banded =
      Dedup.SimHash
  }

  /** A rebuild re-clusters at the runbook's k policy, k = ⌈n / target⌉
    * over its side input; without a runbook row the choice of k stays
    * with the operator. */
  case object SemDeDup extends IndexFamily("semdedup", "labels") {
    def append(s: SparkSession, dir: String, b: Batch): Unit =
      Clustering.semDedupStateAppend(s, dir, b.rows, b.idCol, b.vecCol,
        b.batchId)
    def compact(s: SparkSession, dir: String): Unit =
      Clustering.semDedupStateCompact(s, dir)
    def health(s: SparkSession, dir: String, c: Caps): DataFrame =
      Clustering.semDedupStateHealth(s, dir, c.hotCluster)
    override def maintain(s: SparkSession, dir: String, action: String,
                          side: FleetRunbook.SideInputs): (String, String) =
      if (action != "rebuild") super.maintain(s, dir, action, side)
      else side.runbook.get(dir).flatMap(e =>
        e.targetClusterSize.map((e, _))) match {
        case Some((e, target)) => Similarity.attempt {
          val vecs = FleetRunbook.loadSideInput(s, e, "id", "vec")
          val n = vecs.count()
          val k = math.max(1L, (n + target - 1) / target).toInt
          Clustering.semDedupStateRebuild(s, dir, vecs, "id", "vec", k)
        }
        case None =>
          ("skipped", "SemDeDup rebuild is a re-cluster with a chosen k — " +
            "run semDedupStateSave, or give the runbook a side input + " +
            "target_cluster_size")
      }
  }

  /** The benchmark shingle set: keyed by shingle content, rewritten whole
    * on every append (no fragments to compact), retracted by a rebuild
    * from the remaining suites. */
  case object Decontam extends IndexFamily("decontam", "shingles") {
    override def docKeyed: Boolean = false
    def append(s: SparkSession, dir: String, b: Batch): Unit = {
      require(b.batchId.isEmpty, "the decontam index logs no batch ids")
      Decontamination.decontamIndexAppend(s, dir, b.rows, b.textCol)
    }
    override def delete(s: SparkSession, dir: String, docs: DataFrame,
                        idCol: String, textCol: String): Unit =
      throw new UnsupportedOperationException(
        "the decontam index is shingle-keyed: rebuild it from the " +
          "remaining suites")
    def compact(s: SparkSession, dir: String): Unit = ()
    def health(s: SparkSession, dir: String, c: Caps): DataFrame =
      Decontamination.decontamIndexHealth(s, dir)
    /** The rebuild from `remaining`'s `t` text, or `missing` skipped. */
    private def rebuild(s: SparkSession, dir: String,
                        remaining: Option[DataFrame], t: String,
                        missing: String): (String, String) =
      remaining.fold(("skipped", missing))(r => Similarity.attempt(
        Decontamination.decontamIndexRebuild(s, dir, r, t)))
    override def maintain(s: SparkSession, dir: String, action: String,
                          side: FleetRunbook.SideInputs): (String, String) =
      if (action != "rebuild") noOperator(action)
      else rebuild(s, dir, side.get(dir, "id", "text"), "text",
        "decontam rebuild needs the remaining benchmark suites in corpora " +
          "or the runbook")
    override def erase(s: SparkSession, dir: String,
                       e: Erase): (String, String) = {
      val t = e.textCol.getOrElse("text")
      rebuild(s, dir, e.remaining.get(dir, "id", t), t,
        "decontam index is shingle-keyed — supply decontamRemaining (the " +
          "suites minus the retirees) or a runbook row so the rebuild " +
          "retraction can run")
    }
    /** The distinct shingles of a frame's `t` text at the pinned width. */
    private def shingles(s: SparkSession, dir: String,
                         t: String): DataFrame => DataFrame = {
      val n = Decontamination.decontamIndexN(s, dir)
      _.select(explode(TF.distinctShingles(col(t), n)).as("g")).distinct()
    }
    override def eraseKeys(s: SparkSession, snap: Manifest.Snapshot,
                           e: Erase): Option[(DataFrame, String)] =
      e.textCol.map(t => (shingles(s, snap.dir, t)(e.docs), "g"))
    // doomed shingles a REMAINING suite also carries survive the rebuild
    // by design: a lazy intersection count of two tiny shingle sets
    override def residue(s: SparkSession, dir: String,
                         e: Erase): Either[Long, DataFrame] =
      e.textCol.fold[Either[Long, DataFrame]](Left(-1L)) { t =>
        e.remaining.get(dir, "id", t).fold[Either[Long, DataFrame]](
          Left(0L)) { r =>
          val sh = shingles(s, dir, t)
          Right(sh(e.docs).join(sh(r), Seq("g"), "left_semi"))
        }
      }
  }

  /** The content-hash set: keyed by md5(text), so a retraction needs the
    * docs' text, and `survivors` keep a hash another live doc shares. */
  case object Exact extends IndexFamily("exact", "hashes") {
    def append(s: SparkSession, dir: String, b: Batch): Unit =
      Dedup.exactIndexAppend(s, dir, b.rows, b.idCol, b.textCol, b.batchId)
    override def delete(s: SparkSession, dir: String, docs: DataFrame,
                        idCol: String, textCol: String): Unit =
      Dedup.exactIndexDelete(s, dir, docs, idCol, textCol)
    def compact(s: SparkSession, dir: String): Unit =
      Dedup.exactIndexCompact(s, dir)
    def health(s: SparkSession, dir: String, c: Caps): DataFrame =
      Dedup.exactIndexHealth(s, dir)
    override def erase(s: SparkSession, dir: String,
                       e: Erase): (String, String) = e.textCol match {
      case Some(t) => Similarity.attempt {
        // sharer-safe: only retract docs whose exact text NO live doc
        // still carries — one broadcast-class anti-join on the content
        // hash (the doomed side is the retraction batch, tiny by
        // definition); an all-shared batch tombstones nothing
        val doomed = e.survivors.fold(e.docs) { surv =>
          val h = md5(col(t))
          e.docs.withColumn("_h", h)
            .join(surv.select(h.as("_h")).distinct(), Seq("_h"), "left_anti")
            .drop("_h")
        }
        delete(s, dir, doomed, e.idCol, t)
      }
      case None =>
        ("skipped", "exact-hash index is content-keyed — supply textCol " +
          "so the retracted hashes can be computed")
    }
    override def eraseKeys(s: SparkSession, snap: Manifest.Snapshot,
                           e: Erase): Option[(DataFrame, String)] =
      e.textCol.map(t => (e.docs.select(md5(col(t)).as("h")).distinct(), "h"))
  }

  /** The admission-funnel history: per-(day, source) ops metadata, not
    * doc-keyed, so nothing to retract or audit. */
  case object Funnel extends IndexFamily("funnel", "funnel") {
    override def docKeyed: Boolean = false
    override def audited: Boolean = false
    def append(s: SparkSession, dir: String, b: Batch): Unit =
      throw new UnsupportedOperationException(
        "the funnel history appends per day: admissionFunnelAppend")
    def compact(s: SparkSession, dir: String): Unit =
      CorpusPipeline.admissionFunnelCompact(s, dir)
    def health(s: SparkSession, dir: String, c: Caps): DataFrame =
      CorpusPipeline.admissionFunnelHealth(s, dir)
    override def erase(s: SparkSession, dir: String,
                       e: Erase): (String, String) =
      ("skipped", "funnel history is per-(day, source) ops metadata, not " +
        "doc-keyed — nothing to retract")
  }
}
