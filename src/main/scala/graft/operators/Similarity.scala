package graft.operators

import graft.functions.{AggFunctions, VectorOps => V}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * `bruteForce` is the exact baseline: broadcast the (small) query set and
  * scan the corpus once — a single map-side pass at any corpus size.
  *
  * `lsh` buckets both sides by deterministic sign-hyperplane LSH; only
  * same-bucket pairs are scored. Probing `nProbe` neighboring buckets
  * (bit flips) trades recall for cost.
  *
  * The inverted-list index is the scale path: a k-means coarse quantizer
  * files every vector under its nearest of `nList` centroids, and a query
  * scores only the members of its `nProbe` nearest lists. It exists in
  * memory (`ivf`, `ivfPq`) and persisted (`ivfBuild` → append / query /
  * delete / compact / refit / recall / drift / ingest / health), and each
  * step is written once over its list payload ([[Lists]]): IVF-Flat
  * stores the vector itself (`postings`, exact cosine), IVF-PQ a product
  * code and a norm (`codes` plus `codebooks`, asymmetric-distance scoring
  * and exact rescoring against the embedding store).
  *
  * Every path ends in [[topK]] — a bounded-heap aggregate, not a
  * per-query window sort: each map task keeps at most k candidates per
  * query, so the shuffle carries ≤ k·#tasks rows per query regardless of
  * corpus size (a window row_number would gather every scored candidate
  * of a query into one task before discarding all but k).
  */
object Similarity {

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale = max|v|/127, codes = round(v/scale) ∈ [-127, 127] — the
    * compression step an embedding store runs before ANN indexing (4×
    * smaller than float32, dot products stay within ~1% at typical
    * dims). Built-in higher-order functions (interpreted expressions —
    * Spark HOFs are CodegenFallback — but still a single zero-shuffle
    * projection, no UDF serialization); the all-zero vector quantizes
    * to all-zero codes with scale 0. Output carries codes + scale so
    * [[dequantize]] round-trips. */
  def quantizeInt8(df: DataFrame, vecCol: String,
                   codesCol: String = "codes",
                   scaleCol: String = "scale"): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val mx = array_max(transform(v, x => abs(x)))
    val codes = when(mx === 0d,
      transform(v, _ => lit(0L))).otherwise(
      transform(v, x => round(x * 127.0 / mx).cast("long")))
    df.withColumn(codesCol, codes)
      .withColumn(scaleCol, mx / 127.0)
  }

  /** Inverse of [[quantizeInt8]]: v ≈ codes · scale (float32 result,
    * matching the embedding column type). */
  def dequantize(df: DataFrame, codesCol: String, scaleCol: String,
                 outCol: String = "embedding_deq"): DataFrame =
    df.withColumn(outCol,
      transform(col(codesCol), c => (c * col(scaleCol)).cast("float")))

  /** Deterministic ±1 sign for projection cell (i, j): parity of the
    * first hex digit of md5("i_j") — reproducible anywhere md5 exists,
    * including a SQL oracle. */
  def projectionSign(i: Int, j: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${i}_$j".getBytes("UTF-8"))
    // first hex digit even ⇔ high nibble of byte 0 even
    if (((h(0) >> 4) & 1) == 0) 1.0 else -1.0
  }

  /** Achlioptas-style random projection to `outDims` dimensions: each
    * output dim j is Σᵢ sign(i,j)·vᵢ with the md5-derived ±1 matrix —
    * the distance-preserving dim-reduce a pipeline runs before LSH/ANN
    * when 100 TB of float32 embeddings won't fit the index budget.
    *
    * The sign matrix is data-independent, so it is baked in as LITERAL
    * arrays (computed once on the driver, dims·outDims values) — zero
    * per-row hashing; the projection itself is a zero-shuffle map. Each
    * output is a left-to-right fold seeded with 0.0 (0.0 + t₁ = t₁
    * bit-exactly), the q109 convention, so any engine folding the same
    * sequence reproduces the doubles bit-for-bit. */
  def randomProjection(df: DataFrame, vecCol: String, inDims: Int,
                       outDims: Int, outCol: String = "proj"): DataFrame = {
    require(inDims > 0 && outDims > 0 && outDims <= inDims)
    val v = transform(col(vecCol), x => x.cast("double"))
    val projs = (0 until outDims).map { j =>
      val signs = array((0 until inDims).map(i =>
        lit(projectionSign(i, j))): _*)
      aggregate(zip_with(v, signs, (x, s) => x * s), lit(0.0), _ + _)
    }
    df.withColumn(outCol, array(projs: _*))
  }

  /** Per-query top-k by (cosine desc, id asc): bounded-heap aggregate on
    * the struct (-cosine, id), whose ascending order IS that ranking.
    * CollectTopK's eval returns the retained k in ascending order, so
    * array position is the rank. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("qid")
      .agg(AggFunctions.collectTopK(
        struct((-col("cosine")).as("nc"), col("id")), k, smallest = true)
        .as("_top"))
      .select(col("qid"), posexplode(col("_top")))
      .select(col("qid"), col("col.id").as("id"),
        (-col("col.nc")).as("cosine"), (col("pos") + 1).as("rank"))

  /** [[topK]] of candidate pairs carrying (qid, qv, id, v) by exact
    * cosine — the scorer of the exact paths. */
  private def cosineTopK(pairs: DataFrame, k: Int): DataFrame =
    topK(pairs.select(col("qid"), col("id"),
      V.cosine(col("qv"), col("v")).as("cosine")), k)

  /** Training-sample cap of [[fitQuantizers]]. */
  private val MaxTrain = 65536

  /** The IVF family's one quantizer trainer: `nList` coarse centers
    * and, for PQ, `m` sub-codebooks of `nCodes` centers each, all fit by
    * [[localLloyd]] on ONE seeded driver-side sample. Quantizers train on
    * a sample, not the corpus (Jégou, Douze and Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): below
    * `MaxTrain` rows the sample is the whole corpus (or its
    * `trainFraction` Bernoulli sample); above it, a Bernoulli sample at
    * min(trainFraction, MaxTrain / n) — a uniform slice, not the first
    * rows. `seed` seeds that sample and the k-means++ start. Spark
    * cost: one count and one collect, whatever `kmeansMaxIter`. Driver
    * cost: O(sample × nList × dim × (iterations + 2 + ln nList)), cheap
    * at the nList ≤ 16 every caller uses; a distributed fit for nList in
    * the thousands is out of scope. `op` names the caller in the
    * empty-corpus error. The codebooks are empty without
    * `pq` = (m, nCodes). */
  private def fitQuantizers(op: String, corpus: DataFrame, nList: Int,
                            seed: Long, maxIter: Int,
                            trainFraction: Double = 1.0,
                            pq: Option[(Int, Int)] = None): Quantizers = {
    val n = corpus.count()
    val frac = math.min(trainFraction, MaxTrain.toDouble / math.max(n, 1L))
    val sample =
      (if (frac >= 1.0) corpus
       else corpus.sample(withReplacement = false, frac, seed))
        .select(col("v").cast("array<double>"))
        .collect().take(MaxTrain).map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, s"$op: no vectors to fit nList=$nList " +
      "coarse centers on (empty corpus, or a trainFraction sample that " +
      "drew no rows)")
    val codebooks = pq.fold(Array.empty[Array[Array[Double]]]) {
      case (m, nCodes) =>
        val dim = sample(0).length
        require(m > 0 && dim % m == 0, s"dim $dim not divisible by m=$m")
        val subLen = dim / m
        Array.tabulate(m) { j =>
          localLloyd(sample.map(v =>
            java.util.Arrays.copyOfRange(v, j * subLen, (j + 1) * subLen)),
            nCodes, maxIter, seed)
        }
    }
    Quantizers(localLloyd(sample, nList, maxIter, seed), codebooks)
  }

  /** Lloyd's k-means on a non-empty local sample — the IVF family's one
    * k-means (coarse centers and PQ codebooks, via [[fitQuantizers]]).
    * Initialization is seeded greedy k-means++ (Arthur and
    * Vassilvitskii, SODA 2007): each next center is the best, by total
    * squared distance, of 2 + ⌊ln k⌋ candidates drawn with probability
    * ∝ D², so the centers spread over the sample whatever its row order
    * (a first-k-rows start can leave a whole mode unseeded, and Lloyd
    * never recovers from that). Empty clusters keep their previous
    * center. Always returns exactly k centers: past the sample's
    * distinct points the rest are copies, never nearest (lowest index
    * wins ties). */
  private def localLloyd(pts: Array[Array[Double]], k: Int, iters: Int,
                         seed: Long): Array[Array[Double]] = {
    val n = pts.length
    val d = pts(0).length
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var t = 0
      while (t < d) { val x = a(t) - b(t); s += x * x; t += 1 }
      s
    }
    val rnd = new java.util.SplittableRandom(seed)
    val centers = new Array[Array[Double]](k)
    centers(0) = pts(rnd.nextInt(n)).clone()
    // D² of every point to its nearest chosen center
    var near = pts.map(dist2(_, centers(0)))
    var distinct = 1
    var j = 1
    while (j < k) {
      val total = near.sum
      if (total == 0.0) centers(j) = centers(j % distinct).clone()
      else {
        val prev = near
        var bestPot = Double.MaxValue
        for (_ <- 0 until 2 + math.log(k).toInt) {
          // D² draw; a point already at a center (D² = 0) is never drawn
          var r = rnd.nextDouble() * total
          var i = 0
          while (i < n - 1 && (prev(i) == 0.0 || r >= prev(i))) {
            r -= prev(i); i += 1
          }
          while (prev(i) == 0.0) i -= 1
          val cand = pts(i)
          val nd = Array.tabulate(n)(p =>
            math.min(prev(p), dist2(pts(p), cand)))
          if (nd.sum < bestPot) {
            bestPot = nd.sum; centers(j) = cand.clone(); near = nd
          }
        }
        distinct += 1
      }
      j += 1
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      var p = 0
      while (p < n) {
        val v = pts(p)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val dist = dist2(centers(c), v)
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        var t = 0
        while (t < d) { sums(best)(t) += v(t); t += 1 }
        counts(best) += 1
        p += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var t = 0
          while (t < d) { centers(c)(t) = sums(c)(t) / counts(c); t += 1 }
        }
        c += 1
      }
      it += 1
    }
    centers
  }

  /** Exact top-k cosine neighbors of each query vector.
    * queries: (qid, qv), corpus: (id, v). Queries must be broadcastable. */
  def bruteForce(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    cosineTopK(corpus.join(broadcast(queries)), k)

  /** Hard-negative mining for contrastive training: exact top-k cosine
    * neighbors of each query EXCLUDING its known positives — the
    * highest-similarity non-matches are exactly the negatives a
    * retrieval model learns most from.
    *
    * `positives` is (qid, id) for the query batch only, so it is
    * broadcast-sized by the same argument that makes `queries`
    * broadcastable; the exclusion is then a broadcast anti join applied
    * BEFORE the bounded-heap top-k (excluding after would silently
    * under-fill k), and the whole mine stays a single map-side corpus
    * scan — no shuffle at any corpus size. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
                    positives: DataFrame, k: Int): DataFrame = {
    val scored = corpus.join(broadcast(queries))
      .select(col("qid"), col("id"), V.cosine(col("qv"), col("v")).as("cosine"))
    topK(scored.join(broadcast(positives.select("qid", "id")),
      Seq("qid", "id"), "left_anti"), k)
  }

  // ---- the inverted-list index: one body per step, two list payloads --
  // IVF-PQ is the IVF inverted file with a product code stored as the
  // list payload (Jégou, Douze and Schmid, TPAMI 2011). So every step
  // of the persisted index (build, append, probe-and-score, compaction,
  // refit, recall, the nProbe ladder, drift, ingest, health) is written
  // ONCE below over a [[Lists]] value, and the public ivf*/ivfPq* verbs
  // further down are one-expression forwards that pick the layout.

  /** Coarse centroids of a persisted index, in list order — bounded
    * (nList · dim doubles), so collected and sorted on the driver.
    * `path` is the manifest-resolved table directory (one
    * [[Manifest.snapshot]] per query keeps every table a plan reads on
    * the same index version). */
  private def loadCentroids(spark: SparkSession,
                            path: String): Array[Array[Double]] =
    Manifest.read(spark, path).collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)

  /** PQ codebook rows (j, c, center) as a (j)(c) grid — bounded
    * (m · nCodes · subLen doubles), sorted on the driver. */
  private def codebookGrid(
      rows: Array[org.apache.spark.sql.Row]): Array[Array[Array[Double]]] = {
    val sorted = rows.sortBy(r => (r.getInt(0), r.getInt(1)))
    val m = sorted.map(_.getInt(0)).max + 1
    val nCodes = sorted.map(_.getInt(1)).max + 1
    Array.tabulate(m, nCodes) { (j, c) =>
      sorted(j * nCodes + c).getSeq[Double](2).toArray
    }
  }

  /** The coarse quantizer table `centroids.parquet`: (list, center). */
  private def writeCentroids(spark: SparkSession,
                             cents: Array[Array[Double]], dir: String)
  : Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list", "center")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/centroids.parquet")
  }

  /** Index of the nearest centroid by squared L2 (lowest index wins
    * ties) — the one list-assignment kernel: build, append and drift
    * paths all assign through [[listOf]] / [[listAndCodes]], so a vector
    * gets the same list whether it arrives at build time or by append. */
  private def nearestIdx(cents: Array[Array[Double]],
                         v: Seq[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      var d = 0.0
      var j = 0
      while (j < c.length) { val t = c(j) - v(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** The `nProbe` nearest centroid indices by squared L2, ascending
    * distance — the probe kernel of the query paths. */
  private def probeIdx(cents: Array[Array[Double]], v: Array[Double],
                       nProbe: Int): Seq[Int] =
    cents.zipWithIndex.map { case (c, i) =>
      var d = 0.0
      var j = 0
      while (j < c.length) { val t = c(j) - v(j); d += t * t; j += 1 }
      (d, i)
    }.sortBy(_._1).take(nProbe).map(_._2).toSeq

  /** [[nearestIdx]] over broadcast centers as a column: the list of `v`. */
  private def listOf(q: Bq, v: Column): Column =
    udf { (x: Seq[Double]) => nearestIdx(q.value.centers, x) }
      .apply(v.cast("array<double>"))

  /** [[listOf]] plus [[pqEncode]] in one pass: struct column `e` of
    * (list, codes, norm) — the PQ encoding.
    * Float→double widening is exact, so encoding the cast column with the
    * shared double kernels is bit-identical to a float-input loop. */
  private def listAndCodes(q: Bq, v: Column): Column =
    udf { (x: Seq[Double]) =>
      val cb = q.value.codebooks
      val (codes, nrm) = pqEncode(cb, cb(0)(0).length, x)
      (nearestIdx(q.value.centers, x), codes, nrm)
    }.apply(v.cast("array<double>")).as("e")

  /** A query batch collected ONCE on the driver, the side every
    * probe step reads: each row's group (rows sharing a qid score as one
    * qid, as they did when the batch rode a join), its vector as doubles
    * (float→double widening is exact, so the scorers see the values the
    * cast column held) and, per inverted list, the rows probing it. */
  private final case class Batch(group: Array[Int],
                                 members: Array[Array[Int]],
                                 qvs: Array[Array[Double]],
                                 byList: Map[Int, Array[Int]])

  /** A collected [[Batch]], broadcast, plus the distinct qids its groups
    * stand for. No side of the probe is a Spark relation, so none costs
    * a stage job: the lists come from the collected rows, and the
    * scorers read the vectors from the broadcast. */
  private final case class Probes(qids: Array[Any],
                                  qidType: org.apache.spark.sql.types.DataType,
                                  batch: org.apache.spark.broadcast.Broadcast[Batch]) {
    /** The probed lists: the static partition filter of a list scan. */
    def hit: Seq[Int] = batch.value.byList.keys.toSeq.sorted

    /** Each row (carrying `list`) once per query row probing its list,
      * the query row as `_r`; rows of unprobed lists drop out. */
    def expand(rows: DataFrame): DataFrame = {
      val b = batch
      rows.withColumn("_r", explode(udf { (list: Int) =>
        b.value.byList.getOrElse(list, Array.emptyIntArray).toSeq
      }.apply(col("list"))))
    }

    /** Each query row of group `g`, as `_r` (the refine side). */
    def rowsOf(g: Column): Column = {
      val b = batch
      udf { (i: Int) => b.value.members(i).toSeq }.apply(g)
    }

    def groupOf(r: Column): Column = {
      val b = batch
      udf { (i: Int) => b.value.group(i) }.apply(r)
    }

    /** The query vector of row `r`, as array<double>. */
    def qvOf(r: Column): Column = {
      val b = batch
      udf { (i: Int) => b.value.qvs(i) }.apply(r)
    }

    /** A [[topK]] frame keyed by group, re-keyed by the original qid. */
    def withQid(top: DataFrame): DataFrame =
      top.withColumn("qid", element_at(
        array(qids.toSeq.map(lit): _*)
          .cast(org.apache.spark.sql.types.ArrayType(qidType)),
        col("qid") + 1))
  }

  /** Collect `queries` (qid, qv) and probe each row's `nProbe` nearest
    * lists ([[probeIdx]]). The batch is broadcast-class by the probe
    * contract, and evaluated exactly once: a nondeterministic `queries`
    * (sample(), unordered limit) cannot probe one set of lists and score
    * another. A local `queries` collects without a job. */
  private def probes(spark: SparkSession, queries: DataFrame,
                     centers: Array[Array[Double]], nProbe: Int): Probes = {
    val rows = queries.select(col("qid"), col("qv").cast("array<double>"))
      .collect()
    val qids = rows.map(_.get(0)).distinct
    val groupOf = qids.zipWithIndex.toMap
    val qvs = rows.map(_.getSeq[Double](1).toArray)
    val byList = qvs.zipWithIndex
      .flatMap { case (v, r) => probeIdx(centers, v, nProbe).map(_ -> r) }
      .groupBy(_._1).map { case (l, rs) => l -> rs.map(_._2) }
    val group = rows.map(r => groupOf(r.get(0)))
    val members = group.indices.toArray.groupBy(group(_))
    Probes(qids, queries.schema("qid").dataType, spark.sparkContext.broadcast(
      Batch(group, qids.indices.map(members).toArray, qvs, byList)))
  }

  /** The asymmetric-distance lookup table of one query (Jégou, Douze and
    * Schmid, TPAMI 2011): `lut(j·nCodes + c)` = ⟨q_j, codebook_j[c]⟩ for
    * subvector j, then ‖q‖ last — built once per query, so scoring a
    * code row costs m lookups instead of m · subLen multiplies. */
  private[operators] def adcTable(cb: Array[Array[Array[Double]]],
                                  qv: Array[Double]): Array[Double] = {
    val nCodes = cb(0).length
    val subLen = cb(0)(0).length
    val lut = new Array[Double](cb.length * nCodes + 1)
    var j = 0
    while (j < cb.length) {
      var c = 0
      while (c < nCodes) {
        val cent = cb(j)(c)
        var s = 0.0
        var t = 0
        while (t < subLen) { s += cent(t) * qv(j * subLen + t); t += 1 }
        lut(j * nCodes + c) = s
        c += 1
      }
      j += 1
    }
    var qn = 0.0
    var i = 0
    while (i < qv.length) { qn += qv(i) * qv(i); i += 1 }
    lut(cb.length * nCodes) = math.sqrt(qn)
    lut
  }

  /** Asymmetric-distance cosine estimate of one code row from its
    * query's [[adcTable]]: Σⱼ lut(j, code_j) over ‖q‖ and the stored
    * norm (0 when either is 0) — the PQ candidate-scoring kernel. */
  private[operators] def adcScore(lut: Array[Double], nCodes: Int,
                                  codes: Seq[Int], nrm: Double): Double = {
    var s = 0.0
    var j = 0
    while (j < codes.length) { s += lut(j * nCodes + codes(j)); j += 1 }
    val qn = lut(lut.length - 1)
    if (nrm == 0.0 || qn == 0.0) 0.0 else s / (qn * nrm)
  }

  /** A code row's reconstruction concat(codebook_j[code_j]) — the best
    * vector the index can represent for it. */
  private def recon(q: Bq) = {
    val subLen = q.value.codebooks(0)(0).length
    udf { (codes: Seq[Int]) =>
      val out = new Array[Double](codes.length * subLen)
      var j = 0
      while (j < codes.length) {
        System.arraycopy(q.value.codebooks(j)(codes(j)), 0, out,
          j * subLen, subLen)
        j += 1
      }
      out.toSeq
    }
  }

  /** Appended ids must WIDEN into the index's id type: Spark's default
    * cast would silently wrap a narrowing integral cast (long batch ids
    * into an int-id index), storing corrupted ids that later probes
    * join against nothing. */
  private def requireIdWidens(from: org.apache.spark.sql.types.DataType,
                              to: org.apache.spark.sql.types.DataType)
  : Unit = {
    import org.apache.spark.sql.types._
    def rank(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(1)
      case ShortType => Some(2)
      case IntegerType => Some(3)
      case LongType => Some(4)
      case _ => None
    }
    val ok = from == to || ((rank(from), rank(to)) match {
      case (Some(f), Some(t)) => f <= t
      case _ => false
    })
    require(ok, s"append id type ${from.catalogString} does not widen " +
      s"to index id type ${to.catalogString}")
  }

  /** PQ-encode one vector against the codebook grid: per-subspace
    * nearest sub-centroid indices plus the vector norm. */
  private def pqEncode(cb: Array[Array[Array[Double]]], subLen: Int,
                       v: Seq[Double]): (Array[Int], Double) = {
    val codes = new Array[Int](cb.length)
    var nrm = 0.0
    var i = 0
    while (i < v.length) { nrm += v(i) * v(i); i += 1 }
    var j = 0
    while (j < cb.length) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb(j).length) {
        var d = 0.0
        var t = 0
        while (t < subLen) {
          val diff = cb(j)(c)(t) - v(j * subLen + t); d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best; j += 1
    }
    (codes, math.sqrt(nrm))
  }

  /** Trained quantizers: the coarse centers and, for PQ, the (j)(c)
    * codebook grid (empty for Flat) — nList · dim plus
    * m · nCodes · subLen doubles, broadcast-class by construction. */
  private final case class Quantizers(
      centers: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]] = Array.empty)

  private type Bq = org.apache.spark.broadcast.Broadcast[Quantizers]

  /** The list payload: everything IVF-Flat and IVF-PQ differ in. The
    * step bodies never ask which layout they serve. */
  private sealed abstract class Lists(val op: String, val table: String) {
    /** The columns written after `list` and `id`. */
    def payload: Seq[String]
    /** The quantizer tables, in the order a refit flips them. */
    def quantizerTables: Seq[String]
    def saveQuantizers(spark: SparkSession, q: Quantizers, dir: String): Unit
    def loadQuantizers(spark: SparkSession,
                       snap: Manifest.Snapshot): Quantizers
    /** The PQ (m, nCodes) a refit fits again, read from the index. */
    def shapeAt(spark: SparkSession,
                snap: Manifest.Snapshot): Option[(Int, Int)]
    /** (id, v) rows → (list, id, payload…). */
    def encode(q: Bq, rows: DataFrame): DataFrame
    /** List rows (list, id, payload…) scored against the probe batch →
      * per-query top-k by exact cosine ([[topK]]'s shape). Rows of lists
      * no query probes score nothing. */
    def score(q: Bq, rows: DataFrame, p: Probes, k: Int): DataFrame
    /** The live (id, v) vectors: the exact side of recall and of the
      * nProbe ladder. */
    def vectors(spark: SparkSession, snap: Manifest.Snapshot): DataFrame
    /** The (id, v) rows a refit trains on and encodes. */
    def refitRows(spark: SparkSession, snap: Manifest.Snapshot): DataFrame =
      vectors(spark, snap)
    /** The vector a stored row stands for: drift's base side. */
    def stored(q: Bq): Column
    /** The knob that bounds recall even when every list is probed, with
      * its value; None where probe-all is exact. */
    def probeAllLimit: Option[(String, Int)]
  }

  /** IVF-Flat: `postings(list, id, v)`, the vector itself as payload. */
  private case object Flat extends Lists("ivf", "postings") {
    val payload = Seq("v")
    val quantizerTables = Seq("centroids")
    def saveQuantizers(spark: SparkSession, q: Quantizers,
                       dir: String): Unit =
      writeCentroids(spark, q.centers, dir)
    def loadQuantizers(spark: SparkSession,
                       snap: Manifest.Snapshot): Quantizers =
      Quantizers(loadCentroids(spark, snap.path("centroids")))
    def shapeAt(spark: SparkSession,
                snap: Manifest.Snapshot): Option[(Int, Int)] = None
    def encode(q: Bq, rows: DataFrame): DataFrame =
      rows.select(listOf(q, col("v")).as("list"), col("id"), col("v"))
    def score(q: Bq, rows: DataFrame, p: Probes, k: Int): DataFrame =
      p.withQid(topK(p.expand(rows).select(p.groupOf(col("_r")).as("qid"),
        col("id"), V.cosine(p.qvOf(col("_r")), col("v")).as("cosine")), k))
    def vectors(spark: SparkSession, snap: Manifest.Snapshot): DataFrame =
      liveRows(spark, snap, table).select(col("id"), col("v"))
    // replayed appends land identical rows: a refit folds them first
    override def refitRows(spark: SparkSession,
                           snap: Manifest.Snapshot): DataFrame =
      Lifecycle.replayFolded(spark, snap, liveRows(spark, snap, table))
        .select(col("id"), col("v"))
    def stored(q: Bq): Column = col("v").cast("array<double>")
    val probeAllLimit: Option[(String, Int)] = None
  }

  /** IVF-PQ: `codes(list, id, codes, norm)` plus `codebooks(j, c,
    * center)` — m byte-scale codes and one norm per vector, ~100×
    * smaller than the vectors. Codes cannot reconstruct a vector, so
    * the exact rescoring, the exact side and a refit read the embedding
    * `store` (id, v); steps that need none of them pass None. Scoring
    * is asymmetric-distance over the codes (one [[adcTable]] per query,
    * [[adcScore]] per code row), a bounded heap of `refineK` candidates
    * per query, then exact cosine over those ≤ |queries|·refineK ids,
    * broadcast against the streamed store. */
  private final case class Pq(store: Option[DataFrame] = None,
                              refineK: Int = 0)
      extends Lists("ivfPq", "codes") {
    private def embeddings: DataFrame = store.getOrElse(
      throw new IllegalArgumentException("an IVF-PQ refit, rescoring or " +
        "exact side needs the embedding store (corpus) — codes cannot " +
        "reconstruct vectors"))
    val payload = Seq("codes", "norm")
    val quantizerTables = Seq("centroids", "codebooks")
    def saveQuantizers(spark: SparkSession, q: Quantizers,
                       dir: String): Unit = {
      import spark.implicits._
      writeCentroids(spark, q.centers, dir)
      q.codebooks.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
      }.toSeq.toDF("j", "c", "center")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/codebooks.parquet")
    }
    // both bounded tables in ONE collect, the centroids as j = -1
    def loadQuantizers(spark: SparkSession,
                       snap: Manifest.Snapshot): Quantizers = {
      val (cents, codes) = Manifest.read(spark, snap.path("centroids"))
        .select(lit(-1).as("j"), col("list").as("c"), col("center"))
        .unionByName(Manifest.read(spark, snap.path("codebooks")))
        .collect().partition(_.getInt(0) < 0)
      Quantizers(cents.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray),
        codebookGrid(codes))
    }
    def shapeAt(spark: SparkSession,
                snap: Manifest.Snapshot): Option[(Int, Int)] = {
      val cb = codebookGrid(
        Manifest.read(spark, snap.path("codebooks")).collect())
      Some((cb.length, cb(0).length))
    }
    def encode(q: Bq, rows: DataFrame): DataFrame =
      rows.select(col("id"), listAndCodes(q, col("v")))
        .select(col("e._1").as("list"), col("id"), col("e._2").as("codes"),
          col("e._3").as("norm"))
    def score(q: Bq, rows: DataFrame, p: Probes, k: Int): DataFrame = {
      val cb = q.value.codebooks
      val nCodes = cb(0).length
      val luts = rows.sparkSession.sparkContext.broadcast(
        p.batch.value.qvs.map(adcTable(cb, _)))
      val adc = udf { (r: Int, codes: Seq[Int], nrm: Double) =>
        adcScore(luts.value(r), nCodes, codes, nrm)
      }
      val approxTop = p.expand(rows)
        .select(p.groupOf(col("_r")).as("qid"), col("id"),
          adc(col("_r"), col("codes"), col("norm")).as("approx"))
        .groupBy("qid")
        .agg(AggFunctions.collectTopK(
          struct((-col("approx")).as("na"), col("id")), refineK,
          smallest = true).as("_top"))
        .select(col("qid"), explode(col("_top")).as("c"))
        .select(col("qid"), col("c.id").as("id"))
      p.withQid(topK(embeddings.join(broadcast(approxTop), Seq("id"))
        .select(col("qid"), col("id"), col("v"),
          explode(p.rowsOf(col("qid"))).as("_r"))
        .select(col("qid"), col("id"),
          V.cosine(p.qvOf(col("_r")), col("v")).as("cosine")), k))
    }
    def vectors(spark: SparkSession, snap: Manifest.Snapshot): DataFrame =
      Tombstones.live(spark, snap, embeddings)
    // the reconstruction folds both decay modes into one number: coarse
    // drift (vectors far from their list) and codebook staleness
    // (vectors the codebooks no longer represent)
    def stored(q: Bq): Column = recon(q)(col("codes"))
    // lossy candidate ordering at a finite refineK can keep a true
    // neighbor out of the refine set however many lists are probed
    def probeAllLimit = Some("refineK" -> refineK)
  }

  /** The list layout of an IVF family; `store` and `refineK` are the PQ
    * embedding store and refine width, when the caller has them. */
  private def listsOf(f: IndexFamily.Inverted, store: Option[DataFrame],
                      refineK: Int = 0): Lists =
    if (f.needsStore) Pq(store, refineK) else Flat

  /** The IVF family at `snap`. An IVF-only verb on any other dir fails
    * fast, naming the dir and the family it holds. */
  private def inverted(spark: SparkSession, snap: Manifest.Snapshot,
                       verb: String): IndexFamily.Inverted =
    IndexFamily.at(spark, snap) match {
      case Some(f: IndexFamily.Inverted) => f
      case other => throw new IllegalArgumentException(
        s"$verb: ${snap.dir} holds no IVF index (family found: " +
          s"${IndexFamily.tag(other)})")
    }

  /** The live rows of an index table: pending tombstones anti-joined
    * out. */
  private def liveRows(spark: SparkSession, snap: Manifest.Snapshot,
                       table: String): DataFrame =
    Tombstones.live(spark, snap, Manifest.read(spark, snap.path(table)))

  /** The in-memory probe: encode the whole corpus under freshly fit
    * quantizers, pair each list's members with the queries probing it,
    * score. Corpus side = one encode pass, no shuffle before scoring. */
  private def probe(lists: Lists, queries: DataFrame, corpus: DataFrame,
                    k: Int, nProbe: Int, quantizers: Quantizers)
  : DataFrame = {
    val spark = corpus.sparkSession
    val q = spark.sparkContext.broadcast(quantizers)
    lists.score(q, lists.encode(q, corpus),
      probes(spark, queries, quantizers.centers, nProbe), k)
  }

  /** Build: the quantizer tables, then every vector encoded into the
    * list table PARTITIONED BY list — each list its own directory, one
    * coherent file set (repartitioned by list, not a per-task fragment
    * spray), so a probe of `nProbe` lists reads only those directories. */
  private def build(lists: Lists, corpus: DataFrame, dir: String,
                    quantizers: Quantizers): Unit = {
    val spark = corpus.sparkSession
    lists.saveQuantizers(spark, quantizers, dir)
    lists.encode(spark.sparkContext.broadcast(quantizers), corpus)
      .repartition(col("list"))
      .write.mode("overwrite").partitionBy("list")
      .parquet(s"$dir/${lists.table}.parquet")
    // a fresh in-place build supersedes any prior compaction history:
    // clear stale manifests/versions so readers resolve the new tables
    Manifest.reset(spark, dir)
  }

  /** Append without refit: the batch encodes under the index's EXISTING
    * quantizers and lands as new files in the hit lists' directories.
    * The writer lock spans the whole drop, snapshot taken inside it: an
    * append racing a compaction would otherwise land its files in the
    * superseded directory after the compactor's read — rows silently
    * lost at the manifest flip. */
  private def append(lists: Lists, spark: SparkSession, dir: String,
                     batch: DataFrame, batchId: Option[String]): Unit =
    Lifecycle.append(spark, dir, batchId) { snap =>
      val path = snap.path(lists.table)
      val q = spark.sparkContext.broadcast(lists.loadQuantizers(spark, snap))
      // coerce the batch to the EXISTING index's column types: an
      // append that silently mixes (say) float and double data files
      // under one directory corrupts every later probe's scan
      val existing = Manifest.read(spark, path).schema
      val idType = existing("id").dataType
      requireIdWidens(batch.schema("id").dataType, idType)
      lists.encode(q, batch)
        .select(col("list") +: ("id" +: lists.payload).map(c =>
          col(c).cast(existing(c).dataType)): _*)
        .repartition(col("list"))
        .write.mode("append").partitionBy("list")
        .parquet(path)
      batch.select(col("id").cast(idType).as("id"))
    }

  /** The persisted probe: quantizers load as bounded collects, the
    * query batch is collected once ([[probes]]), and the list-table scan
    * carries a LITERAL `list IN (...)` partition filter — the union of
    * probed lists, computed on the driver from those rows — so unprobed
    * list directories are pruned STATICALLY at planning time (never read
    * from storage), rather than hoping the runtime join or DPP filters
    * them. The scan is the only corpus-sized side: each row pairs with
    * the queries probing its list through the broadcast batch, with no
    * join and no stage job for the batch. */
  private def query(lists: Lists, spark: SparkSession, dir: String,
                    queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val snap = Manifest.snapshot(spark, dir)
    val quantizers = lists.loadQuantizers(spark, snap)
    val p = probes(spark, queries, quantizers.centers, nProbe)
    // tombstone filter AFTER the static partition prune: retracted ids
    // vanish from results immediately, and the anti-join only sees the
    // probed lists' rows
    val rows = Tombstones.live(spark, snap,
      Manifest.read(spark, snap.path(lists.table))
        .where(col("list").isin(p.hit.map(Int.box): _*)))
    lists.score(spark.sparkContext.broadcast(quantizers), rows, p, k)
  }

  /** Compaction: every list's accumulated append fragments rewritten
    * into ONE file set per list, read once → write once → flip, under
    * the writer lock across the whole span (an append landing between
    * the read and the flip would be dropped with the superseded
    * directory). Pending tombstones fold here: retracted rows are
    * dropped and the emptied tombstone table flips in the same
    * publish. The FULL-ROW distinct, gated on the ingest log's replay
    * evidence, folds replayed/repaired appends (a crashed admission's
    * `re_append` repair or an at-least-once micro-batch retry lands
    * identical rows under the frozen quantizers) — which is why
    * [[CorpusPipeline.fleetIngestReconcile]]'s repair is safe. Full-row,
    * not by-id: two rows sharing an id but carrying DIFFERENT vectors
    * (an upstream id collision) both survive LOUDLY instead of one
    * being dropped nondeterministically. */
  private def compact(lists: Lists, spark: SparkSession, dir: String,
                      maxRecordsPerFile: Long): Unit =
    Lifecycle.rewrite(spark, dir) { snap =>
      val tmp = s"$dir/_compact.tmp.${lists.table}"
      writeByList(Lifecycle.replayFolded(spark, snap,
        liveRows(spark, snap, lists.table))
        .select(("list" +: "id" +: lists.payload).map(col): _*),
        maxRecordsPerFile, tmp)
      Seq(lists.table -> tmp)
    }

  /** Refit: new quantizers (same nList and PQ shape, read from the
    * index) trained and encoded through [[build]] itself into a sibling
    * temp index, then ONE manifest flip for every table — a concurrent
    * reader never pairs new centroids with old list assignments. The
    * answer to append-induced drift; the rows exclude pending
    * tombstones, so a refit cannot resurrect a deleted vector. */
  private def refit(lists: Lists, spark: SparkSession, dir: String,
                    seed: Long, kmeansMaxIter: Int,
                    trainFraction: Double): Unit =
    Lifecycle.rewrite(spark, dir, scratch = Some(s"$dir/_rebuild.tmp")) {
      snap =>
      val rows = lists.refitRows(spark, snap)
      val nList = loadCentroids(spark, snap.path("centroids")).length
      val tmp = s"$dir/_rebuild.tmp"
      build(lists, rows, tmp, fitQuantizers(s"${lists.op}Build", rows,
        nList, seed, kmeansMaxIter, trainFraction,
        lists.shapeAt(spark, snap)))
      (lists.quantizerTables :+ lists.table).map(t =>
        t -> s"$tmp/$t.parquet")
    }

  /** Mean recall@k of the production probe against exact brute force
    * over the live vectors — both sides see the same LIVE rows, so a
    * tombstoned id is never counted as a miss. */
  private def recall(lists: Lists, spark: SparkSession, dir: String,
                     queries: DataFrame, k: Int, nProbe: Int): Double = {
    val exact = bruteForce(queries,
      lists.vectors(spark, Manifest.snapshot(spark, dir)), k)
    recallOf(exact.select("qid", "id"),
      query(lists, spark, dir, queries, k, nProbe).select("qid", "id"))
  }

  /** The nProbe ladder: the smallest of 1, 2, 4, … (capped at nList)
    * whose recall meets `targetRecall`, with the exact side computed
    * once over the live vectors. Where probe-all is exact the cap needs
    * no measurement; otherwise the cap is measured too and a miss there
    * is None (with a warning) — no budget is implied to meet a target
    * it provably misses. */
  private def suggestNProbe(lists: Lists, spark: SparkSession, dir: String,
                            queries: DataFrame, k: Int,
                            targetRecall: Double): Option[Int] = {
    val snap = Manifest.snapshot(spark, dir)
    val nList = loadCentroids(spark, snap.path("centroids")).length
    def pairs(df: DataFrame) = df.select("qid", "id").collect()
      .map(r => (r.get(0), r.get(1))).toSet
    val exact = pairs(bruteForce(queries, lists.vectors(spark, snap), k))
    @annotation.tailrec def ladder(p: Int): Option[Int] =
      (lists.probeAllLimit, p >= nList) match {
        case (None, true) => Some(nList)
        case (limit, atCap) =>
          val recall = pairs(query(lists, spark, dir, queries, k, p))
            .intersect(exact).size.toDouble / exact.size
          if (recall >= targetRecall) Some(p)
          else if (atCap) {
            limit.foreach { case (knob, value) =>
              org.slf4j.LoggerFactory.getLogger(Similarity.getClass).warn(
                f"${lists.op}SuggestNProbe: target recall " +
                  f"$targetRecall%.3f is unreachable at $knob=$value " +
                  f"(probe-all measured $recall%.3f); raise $knob")
            }
            None
          } else ladder(math.min(p * 2, nList))
      }
    if (exact.isEmpty) Some(1) else ladder(1)
  }

  /** The drift probe: mean cosine of (a bounded sample of) the stored
    * rows to the centroid of the list each is filed under, against the
    * incoming batch's mean cosine to its nearest centroid. */
  private def drift(lists: Lists, spark: SparkSession, dir: String,
                    batch: DataFrame, baseSampleMod: Long,
                    maxBaseFiles: Int): DataFrame = {
    val snap = Manifest.snapshot(spark, dir)
    val cents = Manifest.read(spark, snap.path("centroids"))
      .select(col("list"), col("center"))
    val q = spark.sparkContext.broadcast(lists.loadQuantizers(spark, snap))
    def meanSim(rows: DataFrame, v: Column, name: String): DataFrame =
      rows.join(broadcast(cents), Seq("list"))
        .agg(avg(V.cosine(v, col("center"))).as(name))
    val (stored, filesRead, filesTotal) =
      sampledTableScan(spark, snap.path(lists.table), maxBaseFiles)
    val base = meanSim(
      stored.filter(pmod(xxhash64(col("id")), lit(baseSampleMod)) === 0),
      lists.stored(q), "base_mean_sim")
    val bat = meanSim(batch.select(listOf(q, col("v")).as("list"), col("v")),
      col("v").cast("array<double>"), "batch_mean_sim")
    base.crossJoin(bat).select(
      lit(dir).as("dir"), lit(snap.version).as("version"),
      col("base_mean_sim"), col("batch_mean_sim"),
      (col("batch_mean_sim") / col("base_mean_sim")).as("drift_ratio"),
      lit(filesRead).as("base_files_read"),
      lit(filesTotal).as("base_files_total"))
  }

  /** Continuous ingest: each non-empty micro-batch is an [[append]]. */
  private def ingest(lists: Lists, stream: DataFrame, dir: String,
                     checkpoint: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    Lifecycle.ingest(stream, checkpoint)(b =>
      append(lists, b.sparkSession, dir, b, None))

  /** The health row with a recall reading (and, when asked, the
    * ladder's budget — NULL when unreachable, never a budget that
    * misses the target). */
  private def health(lists: Lists, spark: SparkSession, dir: String,
                     queries: DataFrame, k: Int, nProbe: Int,
                     suggestTargetRecall: Option[Double]): DataFrame =
    indexHealth(spark, dir, lists.table, Manifest.snapshot(spark, dir),
      Some(k), Some(nProbe),
      Some(recall(lists, spark, dir, queries, k, nProbe)),
      suggestTargetRecall.flatMap(t =>
        suggestNProbe(lists, spark, dir, queries, k, t)))

  private def indexHealth(spark: SparkSession,
                          dir: String, table: String,
                          snap: Manifest.Snapshot, k: Option[Int],
                          nProbe: Option[Int],
                          recall: Option[Double],
                          suggested: Option[Int]): DataFrame = {
    import spark.implicits._
    // lists the INDEX has (from the quantizer, so an empty list still
    // counts — k-means can leave clusters unpopulated)
    val nLists = loadCentroids(spark, snap.path("centroids")).length
    // rows per list: one aggregate over the postings/codes scan —
    // bounded output (nList rows)
    val rowsPerList = Manifest.read(spark, snap.path(table))
      .groupBy("list").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // files per list: one FS listing of the partition directories
    val tableP = new org.apache.hadoop.fs.Path(snap.path(table))
    val filesPerList = Manifest.fs(spark, snap.path(table))
      .listStatus(tableP).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("list="))
      .map { s =>
        s.getPath.getName.stripPrefix("list=").toInt ->
          Lifecycle.fragments(spark, s.getPath.toString).toInt
      }.toMap
    val totalRows = rowsPerList.values.sum
    val meanRows = if (nLists == 0) 0.0 else totalRows.toDouble / nLists
    // pending-tombstone and ingest-batch counts in ONE job (zero when
    // neither table exists) instead of two driver count jobs per
    // reading ([[OpsStats]])
    val (pendingN, ingestN) = OpsStats.counts(spark, snap)
    Seq((dir, snap.version, nLists, nLists - rowsPerList.size, totalRows,
      filesPerList.values.sum.toLong,
      if (filesPerList.isEmpty) 0 else filesPerList.values.max,
      if (rowsPerList.isEmpty) 0L else rowsPerList.values.max,
      meanRows,
      if (meanRows == 0.0) 0.0 else rowsPerList.values.max / meanRows,
      recall, k, nProbe, suggested,
      pendingN, ingestN))
      .toDF("dir", "version", "n_lists", "empty_lists", "total_rows",
        "total_files", "max_files_per_list", "max_rows_per_list",
        "mean_rows_per_list", "row_skew", "recall_at_k", "k", "n_probe",
        "suggested_n_probe", "deleted_pending", "ingest_batches")
  }

  /** Compaction repartitioning: one shuffle partition per list by
    * default; with a records-per-file target also SALT the hot lists so
    * a skewed list is rewritten by ⌈rows/target⌉ parallel tasks instead
    * of one giant task (the write's own `maxRecordsPerFile` bounds file
    * SIZE but not task time). The per-list slice counts are one bounded
    * aggregate (nList rows) collected to a broadcast-class map. */
  private def saltedByList(src: DataFrame,
                           maxRecordsPerFile: Long): DataFrame =
    if (maxRecordsPerFile <= 0L) src.repartition(col("list"))
    else {
      val spark = src.sparkSession
      val slices = src.groupBy("list").count().collect().map { r =>
        r.getInt(0) ->
          math.max(1L, (r.getLong(1) + maxRecordsPerFile - 1)
            / maxRecordsPerFile).toInt
      }.toMap
      val bc = spark.sparkContext.broadcast(slices)
      val slicesOf = udf { (list: Int) => bc.value.getOrElse(list, 1) }
      src.repartition(col("list"),
        pmod(xxhash64(col("id")), slicesOf(col("list"))))
    }

  /** A list-layout compaction write: [[saltedByList]], partitioned by
    * list, with `maxRecordsPerFile` (when set) also capping each FILE —
    * the hot-list bound twice over (task size and file size). */
  private def writeByList(src: DataFrame, maxRecordsPerFile: Long,
                          path: String): Unit = {
    val w = saltedByList(src, maxRecordsPerFile)
      .write.mode("overwrite").partitionBy("list")
    (if (maxRecordsPerFile > 0L)
       w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).parquet(path)
  }

  /** recall = |got ∩ exact| / |exact| in ONE action: the two counts
    * used to be separate `exact.count()` + `intersect().count()` jobs,
    * re-executing the brute-force subtree twice per probe. Both sides
    * are unique on (qid, id) — bounded top-k with deterministic
    * ties — so the group count equals the row count and the grouped
    * presence-product equals `intersect().count()` exactly. */
  private def recallOf(exact: DataFrame, got: DataFrame): Double = {
    val r = exact.select(col("qid"), col("id"), lit(1).as("_t"))
      .unionByName(got.select(col("qid"), col("id"), lit(2).as("_t")))
      .groupBy("qid", "id")
      .agg(max(when(col("_t") === 1, 1).otherwise(0)).as("_e"),
        max(when(col("_t") === 2, 1).otherwise(0)).as("_g"))
      .agg(sum(col("_e")).as("_denom"),
        sum(col("_e") * col("_g")).as("_hits"))
      .head()
    val denom = if (r.isNullAt(0)) 0L else r.getLong(0)
    if (denom == 0L) 1.0
    else (if (r.isNullAt(1)) 0L else r.getLong(1)).toDouble / denom
  }

  /** Deterministic bounded-IO scan of a stored table: when the table
    * holds more than `maxFiles` parquet files, read only a
    * deterministic `maxFiles`-file subset (ranked by a hash of each
    * file's path — append order and listing order do not matter) with
    * partition-column discovery preserved via `basePath`. This is what
    * keeps a "cheap" monitoring probe cheap at corpus scale: a row-mod
    * sample still READS every file before filtering; a file subset
    * bounds the IO itself. Returns the frame plus (filesRead,
    * filesTotal) so callers can report the touched fraction. */
  private[operators] def sampledTableScan(
      spark: SparkSession, path: String,
      maxFiles: Int): (DataFrame, Long, Long) = {
    val files = Lifecycle.parquetFiles(spark, path, recursive = true)
      .map(_.getPath.toString)
    if (maxFiles <= 0 || files.length <= maxFiles)
      (Manifest.read(spark, path), files.length.toLong, files.length.toLong)
    else {
      // rank by a hash of the path RELATIVE to the table root so the
      // selection is stable under directory moves and version flips
      def rank(f: String): (Int, String) = {
        // listed paths come back fully qualified (file:/..., hdfs://…)
        // while `path` may be bare — strip up through the root if found
        val i = f.indexOf(path)
        val rel = if (i >= 0) f.substring(i + path.length) else f
        (scala.util.hashing.MurmurHash3.stringHash(rel, 42), rel)
      }
      val picked = files.sortBy(rank).take(maxFiles)
      (Manifest.schemaOf(spark, path)
        .fold(spark.read)(spark.read.schema(_))
        .option("basePath", path).parquet(picked: _*),
        maxFiles.toLong, files.length.toLong)
    }
  }
  // ---- the public IVF-Flat / IVF-PQ verbs: one-expression forwards ----

  /** IVF-Flat ANN: a k-means coarse quantizer ([[fitQuantizers]]'s
    * local fit on a bounded sample) assigns every corpus vector to its
    * nearest of `nList` centroids; queries probe the `nProbe` nearest
    * inverted lists and score only those lists' members. The classic IVF
    * trade-off: centroids adapt to the data distribution (vs.
    * data-oblivious LSH hyperplanes), at the cost of a training pass.
    * Corpus side = one sample collect + one shuffle on list id;
    * centroids (nList · dim doubles) broadcast. */
  def ivf(queries: DataFrame, corpus: DataFrame, k: Int,
          nList: Int = 16, nProbe: Int = 2, seed: Long = 7L,
          kmeansMaxIter: Int = 20): DataFrame =
    probe(Flat, queries, corpus, k, nProbe,
      fitQuantizers("ivf", corpus, nList, seed, kmeansMaxIter))

  /** IVF-PQ ANN: IVF coarse pruning + product-quantized candidate
    * scoring + exact refinement ([[Pq]]). Codebooks are `m` independent
    * k-means fits over subvector slices, trained with the coarse
    * centers on one bounded sample ([[fitQuantizers]]). The top
    * `refineK` candidates per query are re-scored EXACTLY by joining
    * the original vectors back by id — a join whose left side is
    * ≤ |queries|·refineK rows, independent of corpus size. With
    * nProbe = nList and refineK ≥ |corpus| the result is exactly brute
    * force (the driver's oracle gate for the plumbing); production
    * settings are gated by the recall spec. */
  def ivfPq(queries: DataFrame, corpus: DataFrame, k: Int,
            nList: Int = 16, nProbe: Int = 2, m: Int = 4, nCodes: Int = 16,
            refineK: Int = 50, trainFraction: Double = 1.0,
            seed: Long = 7L, kmeansMaxIter: Int = 20): DataFrame =
    probe(Pq(Some(corpus), refineK), queries, corpus, k, nProbe,
      fitQuantizers("ivfPq", corpus, nList, seed, kmeansMaxIter,
        trainFraction, Some((m, nCodes))))

  /** Build and PERSIST an IVF-Flat index — the production workflow at
    * corpus scale: the k-means fit and list assignment run ONCE and the
    * index is reused across query batches, never refit per query.
    * Writes two tables under `dir`:
    *   - `centroids.parquet`: (list, center) — nList rows, the coarse
    *     quantizer;
    *   - `postings.parquet`: (id, v) PARTITIONED BY list — each
    *     inverted list is its own partition directory, so a probe that
    *     touches `nProbe` lists READS only those directories (storage
    *     partition pruning, the IVF promise made physical: at 100 TB
    *     the unprobed lists never leave object storage). */
  def ivfBuild(corpus: DataFrame, dir: String, nList: Int = 16,
               seed: Long = 7L, kmeansMaxIter: Int = 20): Unit =
    build(Flat, corpus, dir,
      fitQuantizers("ivfBuild", corpus, nList, seed, kmeansMaxIter))

  /** Build and PERSIST an IVF-PQ index — [[ivfBuild]]'s layout with the
    * postings product-quantized: what lands on disk is the COMPRESSED
    * corpus, partitioned by inverted list. At 100 TB this is the index
    * you actually ship: the ANN scan reads pruned directories of codes;
    * the original vectors stay in the embedding store and are fetched
    * by id only for the ≤ |queries|·refineK refine join. Writes under
    * `dir`:
    *   - `centroids.parquet`: (list, center) — the coarse quantizer;
    *   - `codebooks.parquet`: (j, c, center) — m·nCodes sub-centroids;
    *   - `codes.parquet`: (id, codes, norm) PARTITIONED BY list.
    * Training is [[ivfPq]]'s. */
  def ivfPqBuild(corpus: DataFrame, dir: String, nList: Int = 16,
                 m: Int = 4, nCodes: Int = 16, trainFraction: Double = 1.0,
                 seed: Long = 7L, kmeansMaxIter: Int = 20): Unit =
    build(Pq(), corpus, dir, fitQuantizers("ivfPqBuild", corpus, nList,
      seed, kmeansMaxIter, trainFraction, Some((m, nCodes))))

  /** Append a delta batch to a persisted [[ivfBuild]] / [[ivfPqBuild]]
    * index WITHOUT refitting: the batch assigns to the EXISTING coarse
    * centroids (and, for PQ, encodes against the EXISTING codebooks —
    * bounded broadcasts) and lands as NEW files inside each hit list's
    * partition directory. This is the daily-growth workflow at corpus
    * scale — a refit is a training job over the whole corpus, an
    * append is one scan of the delta. The documented trade: centroids
    * drift (and PQ quantization error grows) as the distribution moves,
    * so probe recall decays until a rebuild; probe-all correctness (the
    * oracle gate) is unaffected because every vector lands in exactly
    * one list whatever the assignment, and PQ codes only order
    * candidates — the exact rescoring decides. */
  def ivfAppend(spark: SparkSession, dir: String, batch: DataFrame,
                batchId: Option[String] = None): Unit =
    append(Flat, spark, dir, batch, batchId)

  /** [[ivfAppend]] for the compressed [[ivfPqBuild]] layout. */
  def ivfPqAppend(spark: SparkSession, dir: String, batch: DataFrame,
                  batchId: Option[String] = None): Unit =
    append(Pq(), spark, dir, batch, batchId)

  /** Probe a persisted [[ivfBuild]] index: [[ivf]]'s semantics with the
    * fit amortized away, and a statically pruned postings scan. */
  def ivfQuery(spark: SparkSession, dir: String,
               queries: DataFrame, k: Int, nProbe: Int = 2): DataFrame =
    query(Flat, spark, dir, queries, k, nProbe)

  /** Probe a persisted [[ivfPqBuild]] index: the statically pruned codes
    * scan, ADC scoring over CODES (the ~100× smaller table), a bounded
    * heap of refineK candidates per query, and only those ids fetch
    * their original vectors from `corpus` for the exact rescoring. With
    * nProbe = nList and refineK ≥ |corpus| the result equals brute
    * force (the oracle gate); production settings are recall-gated. */
  def ivfPqQuery(spark: SparkSession, dir: String,
                 queries: DataFrame, corpus: DataFrame, k: Int,
                 nProbe: Int = 2, refineK: Int = 50): DataFrame =
    query(Pq(Some(corpus), refineK), spark, dir, queries, k, nProbe)

  /** Retract vectors from a persisted [[ivfBuild]] /  [[ivfPqBuild]]
    * index ([[Tombstones]] — the erasure verb the
    * build/append/probe/compact lifecycle otherwise lacks): the ids
    * stop appearing in [[ivfQuery]]/[[ivfPqQuery]] results immediately
    * (stored-side anti-join, applied after the partition prune) and
    * their postings/codes rows are physically dropped by the next
    * [[ivfCompact]]/[[ivfPqCompact]]/rebuild. Works for both layouts —
    * the tombstone table is keyed by id alone; any other dir fails
    * fast. */
  def ivfDelete(spark: SparkSession, dir: String,
                ids: DataFrame, idCol: String = "id"): Unit = {
    val snap = Manifest.snapshot(spark, dir)
    Tombstones.retractIds(spark, snap,
      inverted(spark, snap, "ivfDelete").keyTable, ids, idCol)
  }

  // ---- persisted-index lifecycle: compaction + recall monitoring ------
  // every append writes NEW files into the hit lists' partition
  // directories, so a daily-append index accumulates hundreds of small
  // files per list (the classic small-file scan-cost cliff) while the
  // un-refit centroids drift away from the data. These close the loop
  // the append docstrings promise: a compactor that rewrites each list
  // into sized files, a refit (a rebuild), and probes that MEASURE the
  // drift so the rebuild is triggered by evidence, not a calendar. The
  // versioned-directory [[Manifest]] keeps all of it reader-safe.

  /** Compact a persisted [[ivfBuild]] index's postings ([[compact]]):
    * every list's append fragments become ONE coherent file set per
    * list. With `rebuild = true` the whole index is refit from the
    * stored postings instead ([[refit]]) — new coarse centroids (same
    * nList) and fresh assignments, the answer to append-induced drift;
    * [[ivfRecallProbe]] tells you when that is worth a training pass.
    * Probe-all semantics are invariant under both modes. */
  def ivfCompact(spark: SparkSession, dir: String,
                 rebuild: Boolean = false, seed: Long = 7L,
                 kmeansMaxIter: Int = 20,
                 maxRecordsPerFile: Long = 0L): Unit =
    if (rebuild) refit(Flat, spark, dir, seed, kmeansMaxIter, 1.0)
    else compact(Flat, spark, dir, maxRecordsPerFile)

  /** [[ivfCompact]] for the compressed [[ivfPqBuild]] layout. No
    * in-place rebuild mode — the index stores codes, not vectors, so a
    * refit needs the embedding store: that is [[ivfPqRebuild]]. */
  def ivfPqCompact(spark: SparkSession, dir: String,
                   maxRecordsPerFile: Long = 0L): Unit =
    compact(Pq(), spark, dir, maxRecordsPerFile)

  /** Reader-safe refit of a persisted [[ivfPqBuild]] index from the
    * embedding store `corpus` ([[refit]]: same nList/m/nCodes, read from
    * the existing tables; centroids, codebooks and codes flip in ONE
    * manifest publish). Pending tombstones filter the store first — the
    * store may still carry retracted ids, and re-encoding them would
    * silently resurrect deleted vectors. */
  def ivfPqRebuild(spark: SparkSession, dir: String,
                   corpus: DataFrame, trainFraction: Double = 1.0,
                   seed: Long = 7L, kmeansMaxIter: Int = 20): Unit =
    refit(Pq(Some(corpus)), spark, dir, seed, kmeansMaxIter, trainFraction)

  /** Mean recall@k of the PRODUCTION probe (persisted index, partial
    * nProbe) against exact brute force over the index's own live
    * postings, on a bounded query sample — the drift monitor that
    * decides when [[ivfCompact]]'s rebuild is due. Both sides are
    * ≤ |queries|·k rows (bounded-heap top-k), so the comparison is
    * driver-cheap at any corpus size; the cost is one postings scan for
    * the brute-force side, which is why the probe runs on a SAMPLE of
    * queries on a schedule, not per batch. Ties are deterministic on
    * both sides (cosine desc, id asc), so the hit-set comparison is
    * exact. */
  def ivfRecallProbe(spark: SparkSession, dir: String, queries: DataFrame,
                     k: Int, nProbe: Int): Double =
    recall(Flat, spark, dir, queries, k, nProbe)

  /** [[ivfRecallProbe]] for a persisted [[ivfPqBuild]] index: the exact
    * side reads the live original vectors from `corpus` (the codes
    * table cannot reconstruct them), the probe side runs the production
    * partial-probe + bounded-refine path. */
  def ivfPqRecallProbe(spark: SparkSession, dir: String,
                       queries: DataFrame, corpus: DataFrame,
                       k: Int, nProbe: Int, refineK: Int): Double =
    recall(Pq(Some(corpus), refineK), spark, dir, queries, k, nProbe)

  /** Centroid-DRIFT probe of a persisted [[ivfBuild]] index: the early-
    * warning signal [[ivfRecallProbe]] confirms. An IVF index's quality
    * rests on its coarse centroids modeling the data distribution; as
    * appended batches drift (new domains, new embedding model epochs),
    * vectors land ever farther from their assigned centroid and probe
    * recall decays. This probe measures that directly and CHEAPLY —
    * no brute-force exact side, no queries needed:
    *
    *   - `base_mean_sim`: mean cosine of (a deterministic 1-in-
    *     `baseSampleMod` sample of) the STORED postings to the centroid
    *     of the list each is filed under — how well the quantizer fits
    *     the corpus it currently holds;
    *   - `batch_mean_sim`: mean cosine of the incoming batch to its
    *     nearest centroid (the same squared-L2 assignment [[ivfAppend]]
    *     would use) — how well the quantizer fits what is ARRIVING;
    *   - `drift_ratio` = batch/base: ≈1 means the batch looks like the
    *     corpus; falling means the quantizer is going stale for new
    *     data. [[indexMaintenancePlan]]'s `driftRatioFloor` turns it
    *     into a `rebuild` verdict.
    *
    * Cost: BOUNDED by construction — the base side reads at most
    * `maxBaseFiles` posting files (a deterministic path-hash subset;
    * [[sampledTableScan]]), joined to the broadcast-class centroid
    * table by the STORED list id (no assignment recompute), plus one
    * batch scan. `baseSampleMod` further thins rows WITHIN the read
    * files (compute, not IO). The output row carries
    * `base_files_read`/`base_files_total` so the fleet table shows
    * the touched fraction. A daily probe of a 100 TB index therefore
    * costs a few dozen GB, not a full postings pass — the whole point
    * of a cheap leading indicator. One output row; rows from many
    * indexes union into the fleet table. */
  def ivfDriftProbe(spark: SparkSession, dir: String, batch: DataFrame,
                    baseSampleMod: Long = 1L,
                    maxBaseFiles: Int = 256): DataFrame =
    drift(Flat, spark, dir, batch, baseSampleMod, maxBaseFiles)

  /** [[ivfDriftProbe]] for the compressed [[ivfPqBuild]] layout. The
    * codes table stores no vectors, so the base side scores each row's
    * RECONSTRUCTION concat(codebook_j[code_j]) against the centroid of
    * the list it is filed under. That folds BOTH decay modes into one
    * number: coarse-centroid drift and codebook staleness
    * (reconstruction error pulls the cosine down even when the coarse
    * assignment is fine). Same bounded cost. */
  def ivfPqDriftProbe(spark: SparkSession, dir: String, batch: DataFrame,
                      baseSampleMod: Long = 1L,
                      maxBaseFiles: Int = 256): DataFrame =
    drift(Pq(), spark, dir, batch, baseSampleMod, maxBaseFiles)

  /** Continuous embedding ingest into a persisted [[ivfBuild]] index:
    * each micro-batch appends WITHOUT refit via [[ivfAppend]], the
    * Structured-Streaming face of the daily-growth workflow. The
    * maintenance loop stays the batch one: [[ivfIndexHealth]] on a
    * schedule, [[ivfCompact]] when fragmentation climbs,
    * `rebuild = true` when [[ivfRecallProbe]] decays.
    *
    * Delivery is foreachBatch's at-least-once: a retried batch appends
    * its vectors twice. Probe correctness degrades gracefully (a
    * duplicate id can at worst displace one true neighbor from top-k);
    * exact-once pipelines should dedupe by id at the next compaction or
    * upstream. Single-writer: do not run concurrent with appends or
    * compactions of the same index. */
  def ivfIngest(stream: DataFrame, dir: String, checkpoint: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    ingest(Flat, stream, dir, checkpoint)

  /** [[ivfIngest]] for the compressed [[ivfPqBuild]] layout: each
    * micro-batch PQ-encodes against the existing quantizers and appends
    * via [[ivfPqAppend]]. Same at-least-once and single-writer contract;
    * quantization drift on shifted data is the batch monitor's problem
    * ([[ivfPqRecallProbe]] → [[ivfPqRebuild]]). */
  def ivfPqIngest(stream: DataFrame, dir: String, checkpoint: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    ingest(Pq(), stream, dir, checkpoint)

  /** The probe-budget tuner run after a build or rebuild: the smallest
    * nProbe among 1, 2, 4, … (capped at the index's nList) whose sampled
    * recall@k meets `targetRecall` — evidence-picked instead of
    * hand-tuned, the operational complement of [[ivfRecallProbe]]
    * (which monitors an ALREADY-chosen budget for drift). The exact side
    * is computed ONCE over the live postings; each candidate budget
    * costs one partial probe over its pruned lists. Doubling
    * granularity is deliberate: at production nList (thousands) the
    * budget/recall curve is flat enough that the next power of two is
    * the right unit of spend. Returns the cap if even probing
    * everything misses the target (only possible when `queries`'
    * neighbors tie non-deterministically — probe-all itself is exact,
    * so the cap is never measured). */
  def ivfSuggestNProbe(spark: SparkSession, dir: String, queries: DataFrame,
                       k: Int, targetRecall: Double): Int =
    suggestNProbe(Flat, spark, dir, queries, k, targetRecall).get

  /** [[ivfSuggestNProbe]] for the compressed [[ivfPqBuild]] layout —
    * where the knob matters MORE: PQ's lossy candidate ordering sits
    * below IVF recall at equal nProbe, so a budget tuned on an IVF
    * twin overstates PQ recall. The exact side reads the live original
    * vectors from `corpus`; each candidate budget runs the production
    * partial-probe + bounded-refine path at the SAME `refineK` the
    * pipeline will use. Probe-all is NOT exact here, so the ladder
    * MEASURES recall at nList too and returns `None` (with a warning)
    * when the target is unreachable at this refineK — the operator's
    * knob at that point is refineK, not nProbe. */
  def ivfPqSuggestNProbe(spark: SparkSession, dir: String,
                         queries: DataFrame, corpus: DataFrame, k: Int,
                         refineK: Int, targetRecall: Double): Option[Int] =
    suggestNProbe(Pq(Some(corpus), refineK), spark, dir, queries, k,
      targetRecall)

  /** Operational health report of a persisted [[ivfBuild]] index — the
    * dashboard row a daily-append pipeline watches: physical layout
    * (lists, rows, files, skew) plus a sampled recall@k reading of the
    * production probe. One output row per index, so reports from many
    * indexes union into one fleet table:
    *   (dir, version, n_lists, empty_lists, total_rows, total_files,
    *    max_files_per_list, max_rows_per_list, mean_rows_per_list,
    *    row_skew, recall_at_k, k, n_probe, suggested_n_probe,
    *    deleted_pending, ingest_batches)
    * `max_files_per_list` rising → [[ivfCompact]] is due (small-file
    * scan cliff); `row_skew` (max/mean rows per list) rising → the
    * centroids no longer balance the data; `recall_at_k` falling below
    * the pipeline's floor → `ivfCompact(rebuild = true)` — and
    * [[indexMaintenancePlan]] turns exactly those thresholds into an
    * action column. With `suggestTargetRecall` set the report also runs
    * [[ivfSuggestNProbe]] and carries the budget in
    * `suggested_n_probe` (NULL when not requested — the tuner costs a
    * geometric ladder of probes, so it's opt-in per schedule). Cost:
    * one postings scan for the row counts, one FS listing, one
    * [[ivfRecallProbe]] over the bounded query sample. */
  def ivfIndexHealth(spark: SparkSession, dir: String, queries: DataFrame,
                     k: Int, nProbe: Int,
                     suggestTargetRecall: Option[Double] = None): DataFrame =
    health(Flat, spark, dir, queries, k, nProbe, suggestTargetRecall)

  /** [[ivfIndexHealth]] for the compressed [[ivfPqBuild]] layout: the
    * layout stats come from the codes table; the recall sample needs the
    * embedding store (`corpus`) for its exact side. With
    * `suggestTargetRecall` set, the report also carries the
    * [[ivfPqSuggestNProbe]] budget (at the report's own refineK; NULL
    * when unreachable). */
  def ivfPqIndexHealth(spark: SparkSession, dir: String,
                       queries: DataFrame, corpus: DataFrame,
                       k: Int, nProbe: Int, refineK: Int,
                       suggestTargetRecall: Option[Double] = None)
  : DataFrame =
    health(Pq(Some(corpus), refineK), spark, dir, queries, k, nProbe,
      suggestTargetRecall)

  /** [[ivfIndexHealth]]/[[ivfPqIndexHealth]] WITHOUT the recall probe —
    * layout, fragment, skew, tombstone-debt, and ingest-log readings
    * only, with `recall_at_k`/`k`/`n_probe` NULL ("not measured", which
    * [[indexMaintenancePlan]]'s null-safe recall rule simply skips).
    * The recall probe costs a brute-force pass over the sampled
    * queries; a schedule that gates on retraction debt or fragment
    * count alone (the q254-class tombstone lifecycle, a
    * compact-or-not cron) should not pay it on every reading. Works
    * for both layouts; any other dir fails fast. */
  def ivfIndexHealthLight(spark: SparkSession, dir: String): DataFrame = {
    val snap = Manifest.snapshot(spark, dir)
    indexHealth(spark, dir,
      inverted(spark, snap, "ivfIndexHealthLight").keyTable, snap, None,
      None, None, None)
  }

  /** Semantic DECONTAMINATION against an evaluation benchmark: annotate
    * every corpus row with its maximum cosine to ANY benchmark vector
    * plus a `contaminated` flag at `tau` — the embedding-space
    * complement of n-gram decontamination (a paraphrased eval question
    * shares no 13-gram but sits next to the original in embedding
    * space). Eval benchmarks are small, so the benchmark rides a
    * broadcast and the whole operator is ONE zero-shuffle projection
    * over the corpus (spec-asserted: no Exchange in the plan) — at
    * 100 TB the corpus streams through map tasks once. For a benchmark
    * too big to broadcast, flip the roles: build a persisted
    * [[ivfBuild]] index over the benchmark and [[ivfQuery]] the corpus
    * against it. Cosine arithmetic mirrors the exact-kNN oracle's
    * sequential sums, so the annotation is hash-exact against SQL. */
  def benchmarkContamination(corpus: DataFrame, idCol: String,
                             vecCol: String, benchmark: DataFrame,
                             benchVecCol: String, tau: Double): DataFrame = {
    val spark = corpus.sparkSession
    val bench: Array[Array[Double]] = benchmark
      .select(col(benchVecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(bench.nonEmpty, "benchmarkContamination: empty benchmark")
    val bc = spark.sparkContext.broadcast(bench)
    val maxCos = udf { (v: Seq[Double]) =>
      val a = v.toArray
      var vn = 0.0
      var i = 0
      while (i < a.length) { vn += a(i) * a(i); i += 1 }
      var best = Double.NegativeInfinity
      var r = 0
      while (r < bc.value.length) {
        val b = bc.value(r)
        var s = 0.0
        var bn = 0.0
        var j = 0
        while (j < b.length) { s += a(j) * b(j); bn += b(j) * b(j); j += 1 }
        val c = s / math.sqrt(vn * bn)
        if (c > best) best = c
        r += 1
      }
      best
    }
    corpus
      .withColumn("max_benchmark_cosine",
        maxCos(col(vecCol).cast("array<double>")))
      .withColumn("contaminated",
        col("max_benchmark_cosine") >= tau)
  }

  /** The maintenance DECISION the health numbers exist for: map each
    * health row (or a fleet union of them — IVF, IVF-PQ, and the
    * MinHash text index all emit one-row reports, so a mixed-family
    * fleet table is just `unionByName(allowMissingColumns = true)`) to
    * the action an operator would take:
    *
    *  - `rebuild` — sampled `recall_at_k` below the pipeline's floor,
    *    or [[ivfDriftProbe]]'s `drift_ratio` below `driftRatioFloor`
    *    (IVF family; fragmentation-only compaction cannot recover
    *    centroid drift);
    *  - `dedup_prepass` — `hot_buckets` over its ceiling (MinHash
    *    family: the probe's guard silently drops over-cap buckets, so
    *    near-dups are going unreported; the fix is collapsing the
    *    boilerplate feeding the bucket — an exact-dedup pre-pass and
    *    param rebuild, [[Dedup.minhashMaintenanceApply]] — not a file
    *    rewrite);
    *  - `compact` — small-file count (`max_files_per_list` for the
    *    list-partitioned IVF layouts, `n_fragments` for the flat
    *    MinHash banded table), row skew, or pending-retraction debt
    *    (`deleted_pending` over `tombstoneDebtCeiling` — every probe
    *    pays the tombstone anti-join until a compaction folds it)
    *    over its ceiling;
    *  - `none` otherwise.
    *
    * Pure column logic: runs over a one-row report or a million-index
    * fleet table identically. Columns a family does not emit resolve to
    * NULL (or are synthesized as NULL if absent from the frame
    * entirely), and NULL never triggers an action — an IVF row cannot
    * trip the hot-bucket rule, a MinHash row cannot trip the recall
    * rule, a health sampled without a probe never triggers a rebuild. */
  def indexMaintenancePlan(health: DataFrame, recallFloor: Double,
                           maxFilesPerListCeiling: Long,
                           rowSkewCeiling: Double =
                             Double.PositiveInfinity,
                           hotBucketsCeiling: Long = 0L,
                           maxFragmentsCeiling: Long =
                             Long.MaxValue,
                           driftRatioFloor: Double =
                             Double.NegativeInfinity,
                           hotClustersCeiling: Long =
                             Long.MaxValue,
                           tombstoneDebtCeiling: Long =
                             Long.MaxValue): DataFrame = {
    val present = health.columns.toSet
    def c(name: String) =
      if (present(name)) col(name) else lit(null).cast("double")
    health.withColumn("action",
      when(c("recall_at_k") < recallFloor, lit("rebuild"))
        // drift is the recall rule's cheap leading indicator
        // ([[ivfDriftProbe]]): a batch/base assignment-similarity ratio
        // under the floor means the quantizer has gone stale for the
        // arriving data — same remedy, a refit
        .when(c("drift_ratio") < driftRatioFloor, lit("rebuild"))
        // SemDeDup family: clusters past the probe's maxCluster guard
        // are silently skipped, so pairs go unreported — the quantizer's
        // k has fallen behind the corpus; the remedy is a re-cluster
        // with more clusters (semDedupStateSave), a rebuild
        .when(c("hot_clusters") > hotClustersCeiling, lit("rebuild"))
        .when(c("hot_buckets") > hotBucketsCeiling, lit("dedup_prepass"))
        .when(c("max_files_per_list") > maxFilesPerListCeiling ||
          c("row_skew") > rowSkewCeiling ||
          c("n_fragments") > maxFragmentsCeiling ||
          // retraction debt: every probe pays the tombstone anti-join
          // until a compaction folds it — past the ceiling, fold now
          c("deleted_pending") > tombstoneDebtCeiling, lit("compact"))
        .otherwise(lit("none")))
  }

  /** Execute an [[indexMaintenancePlan]] action on a persisted index —
    * the apply half of the health → plan → apply loop. The layout is
    * sniffed from the manifest snapshot (a codes table means IVF-PQ;
    * a dir holding any other family fails fast):
    * `compact` defragments ([[ivfCompact]] / [[ivfPqCompact]]),
    * `rebuild` refits ([[ivfCompact]]`(rebuild = true)` /
    * [[ivfPqRebuild]] — a PQ refit REQUIRES the embedding store
    * `corpus`, since codes cannot reconstruct vectors, so a PQ rebuild
    * without it throws rather than silently downgrading to a
    * compaction), `none` is a no-op. Single-writer contract as for
    * every compaction. */
  def indexMaintenanceApply(spark: SparkSession,
                            dir: String, action: String,
                            corpus: Option[DataFrame] = None,
                            maxRecordsPerFile: Long = 0L, seed: Long = 7L,
                            kmeansMaxIter: Int = 20): Unit = {
    val lists = listsOf(inverted(spark, Manifest.snapshot(spark, dir),
      "indexMaintenanceApply"), corpus)
    action match {
      case "none" => ()
      case "compact" => compact(lists, spark, dir, maxRecordsPerFile)
      case "rebuild" => refit(lists, spark, dir, seed, kmeansMaxIter, 1.0)
      case other => throw new IllegalArgumentException(
        s"indexMaintenanceApply: unknown action '$other'")
    }
  }

  /** The FLEET-WIDE health sweep — the missing first step of the
    * health → [[indexMaintenancePlan]] → [[fleetMaintenanceApply]]
    * loop, which until now every caller assembled by hand (sniff each
    * family, call its health, union with missing columns): one call
    * returns one tagged row per index dir, whatever mix of families
    * the fleet holds. The vector families contribute their
    * [[ivfIndexHealthLight]] rows (layout/debt/log readings — the
    * cheap daily sweep; the recall-probing [[ivfIndexHealth]] stays a
    * per-index opt-in because it costs a brute-force pass), text/label
    * families their full health rows, the admission-funnel history its
    * fragment row, and an unrecognized dir an all-NULL row tagged
    * `unknown` (the planner's null-safe rules yield `none` — a typo'd
    * dir must not crash the fleet sweep). All flat-family rows are
    * LAZY one-plan aggregates, so planning a thousand-index fleet is
    * one collected action plus the vector families' bounded layout
    * collects. With `runbookDir` the persisted [[FleetRunbook]]
    * answers for deep-probe inputs the caller's maps omit (query
    * sample = first `probeSampleN` store rows by id; PQ exact side =
    * the store), so the scheduled sweep needs zero per-dir maps
    * (q265). */
  def fleetHealth(spark: SparkSession,
                  dirs: Seq[String],
                  hotBucketCap: Int = 10000,
                  hotClusterCap: Long = 100000L,
                  deepProbes: Int = 0,
                  probeQueries: Map[String, DataFrame] = Map.empty,
                  probeCorpora: Map[String, DataFrame] = Map.empty,
                  probeK: Int = 10, probeNProbe: Int = 1,
                  probeRefineK: Int = 50,
                  probeLogDir: Option[String] = None,
                  runbookDir: Option[String] = None,
                  probeSampleN: Int = 16): DataFrame = {
    require(dirs.nonEmpty,
      "fleetHealth: dirs is empty — a health sweep needs at least one " +
        "index dir")
    // BUDGETED deep recall sweeps: `fleetHealth` always takes the
    // recall-free light reading for the vector families (the probe
    // costs a brute-force pass), which means the one-call loop can
    // never detect recall decay on its own. `deepProbes = n` spends n
    // full [[ivfIndexHealth]]/[[ivfPqIndexHealth]] readings per sweep,
    // ROUND-ROBIN BY STALENESS over the vector dirs that have probe
    // inputs (queries; plus the embedding store for PQ — its exact
    // side cannot come from codes): the persisted probe log at
    // `probeLogDir` records which sweep last deep-probed each dir, so
    // every index is eventually probed without paying brute force on
    // the whole fleet daily. Without a log dir the budget still
    // spends, deterministically by dir order — fine for a one-shot
    // sweep, but a schedule wants the log.
    //
    // Side-input resolution mirrors [[fleetMaintenanceApply]]: the
    // caller's probeQueries/probeCorpora maps win, and the persisted
    // [[FleetRunbook]] answers for every vector dir they omit — the
    // probe SAMPLE is the first `probeSampleN` rows of the dir's
    // side-input store by id (deterministic, and self-probing with
    // corpus vectors is exactly what a recall reading wants), the PQ
    // exact side is the store itself. With both the runbook and the
    // probe log supplied, the scheduled sweep needs ZERO per-dir maps.
    val queries = FleetRunbook.sides(spark, probeQueries.get, runbookDir)
    val stores = queries.copy(given = probeCorpora.get)
    // the deep probe's inputs, when the dir has them: the query sample,
    // plus the embedding store where codes cannot reconstruct vectors
    def deepInputs(f: Option[IndexFamily])(dir: String)
      : Option[(IndexFamily.Inverted, DataFrame, Option[DataFrame])] =
      f.collect { case v: IndexFamily.Inverted => v }.flatMap { v =>
        queries.get(dir, "qid", "qv", _.orderBy("qid").limit(probeSampleN)
          .withColumn("qv", col("qv").cast("array<float>"))).flatMap(q =>
          if (!v.needsStore) Some((v, q, None))
          else stores.get(dir, "id", "v",
            _.withColumn("v", col("v").cast("array<float>")))
            .map(c => (v, q, Some(c))))
      }
    // ONE snapshot and family sniff per dir, read by both the
    // deep-probe candidate choice and the health row
    val sniffed = dirs.map { dir =>
      val snap = Manifest.snapshot(spark, dir)
      (dir, snap, IndexFamily.at(spark, snap))
    }
    val candidates = sniffed.collect {
      case (dir, _, f) if deepInputs(f)(dir).isDefined => dir
    }
    val lastProbed: Map[String, Long] = probeLogDir match {
      case Some(ld) => ProbeLog.lastSweep(spark, ld)
      case None => Map.empty
    }
    val pos = candidates.zipWithIndex.toMap
    val chosen: Set[String] =
      if (deepProbes <= 0) Set.empty
      else candidates
        .sortBy(d => (lastProbed.getOrElse(d, -1L), pos(d)))
        .take(deepProbes).toSet
    val frames = sniffed.map { case (dir, snap, family) =>
      val h = family match {
        case Some(_) if chosen(dir) =>
          val (v, q, store) = deepInputs(family)(dir).get
          health(listsOf(v, store, probeRefineK), spark, dir, q, probeK,
            probeNProbe, None)
        case Some(f) => f.health(spark, dir,
          IndexFamily.Caps(hotBucketCap, hotClusterCap))
        case None => spark.range(1).select(lit(dir).as("dir"),
          lit(snap.version).as("version"))
      }
      h.withColumn("family", lit(IndexFamily.tag(family)))
    }
    if (chosen.nonEmpty) probeLogDir.foreach(ld =>
      ProbeLog.record(spark, ld, chosen.toSeq.sorted,
        lastProbed.values.foldLeft(0L)(math.max) + 1))
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Persisted record of which sweep last DEEP-probed each vector
    * index — [[fleetHealth]]'s staleness cursor: (dir, sweep) rows
    * under their own [[Manifest]] dir (fleet-ops metadata like the
    * [[FleetRunbook]] — one append per sweep, broadcast-class
    * forever). */
  private[operators] object ProbeLog {
    def lastSweep(spark: SparkSession,
                  logDir: String): Map[String, Long] = {
      val p = Manifest.snapshot(spark, logDir).path("probe_log")
      if (Manifest.exists(spark, p))
        Manifest.read(spark, p).groupBy("dir")
          .agg(max(col("sweep")).as("sweep"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      else Map.empty
    }

    def record(spark: SparkSession, logDir: String,
               probed: Seq[String], sweep: Long): Unit =
      Manifest.withLock(spark, logDir) {
        import spark.implicits._
        val snap = Manifest.snapshot(spark, logDir)
        probed.map(d => (d, sweep)).toDF("dir", "sweep")
          .coalesce(1).write.mode("append").parquet(snap.path("probe_log"))
      }
  }

  /** The persisted deep-probe history ([[fleetHealth]]'s staleness
    * cursor) as (dir, sweep) rows — the ops surface for "when was
    * this index last recall-probed" (empty frame when no sweep has
    * spent a probe yet). */
  def probeLogHistory(spark: SparkSession,
                      logDir: String): DataFrame = {
    import spark.implicits._
    val p = Manifest.snapshot(spark, logDir).path("probe_log")
    if (Manifest.exists(spark, p)) Manifest.read(spark, p)
    else Seq.empty[(String, Long)].toDF("dir", "sweep")
  }

  /** Map a fleet's per-index units onto `parallelism` driver threads,
    * preserving input order in the output. Each unit drives ONE index
    * dir under that index's own writer lock, so units never contend on
    * state — exactly the property that makes fleet maintenance over a
    * thousand indexes embarrassingly parallel. parallelism = 1 (the
    * default everywhere) is plain sequential execution (no timeout —
    * every unit runs to completion on the caller's thread).
    *
    * `timeout` bounds the PARALLEL wait without discarding per-row
    * isolation: units still unfinished when it expires are reported
    * through `onTimeout` (the caller turns them into `failed` rows)
    * while every completed unit keeps its real result — a fleet whose
    * one legitimately-long compaction overruns no longer throws away
    * the whole report. A timed-out unit's thread keeps running in the
    * background until it finishes (pool.shutdown() does not interrupt
    * it); its index stays writer-locked until then, which the report
    * row says. Default Duration.Inf: an unattended fleet loop waits. */
  private def fleetMap[A, B](units: Seq[A], parallelism: Int,
                             timeout: scala.concurrent.duration.Duration =
                               scala.concurrent.duration.Duration.Inf)
                            (f: A => B)(onTimeout: A => B): Seq[B] =
    if (parallelism <= 1 || units.size <= 1) units.map(f)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(parallelism, units.size))
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val futs = units.map(u => Future(f(u)))
      try {
        try Await.ready(Future.sequence(futs), timeout)
        catch { case _: java.util.concurrent.TimeoutException => () }
        units.zip(futs).map { case (u, fu) =>
          fu.value match {
            case Some(scala.util.Success(b)) => b
            case Some(scala.util.Failure(e)) => throw e
            case None => onTimeout(u)
          }
        }
      } finally pool.shutdown()
    }

  /** The (status, detail) of a fleet row whose dir holds no family. */
  private val unrecognized = ("skipped", "no recognizable index tables at dir")

  /** A fleet row's action as (status, detail): `executed`, or `failed`
    * with the error's message — one row's failure never aborts the
    * fleet. */
  private[operators] def attempt(f: => Unit): (String, String) =
    try { f; ("executed", "") }
    catch { case e: Exception =>
      ("failed", Option(e.getMessage).getOrElse(e.getClass.getName)
        .take(200))
    }

  /** The per-dir fleet runner behind [[fleetMaintenanceApply]] and
    * [[fleetDelete]]: each row's family is sniffed from its dir's
    * snapshot and `one(family, dir, a)` answers (status, detail). Rows
    * naming the SAME dir run sequentially inside one [[fleetMap]]
    * unit — two actions for one index must never race its
    * exclusive writer lock across threads (the loser would report a
    * spurious `failed` where sequential execution succeeds) — so units
    * stay disjoint lock domains. A unit still running at `timeout`
    * reports `failed` rows. Rows come back in input order as
    * (dir, a, family, status, detail). */
  private def fleetRun[A](spark: SparkSession, rows: Seq[(String, A)],
                          parallelism: Int,
                          timeout: scala.concurrent.duration.Duration)
                         (one: (Option[IndexFamily], String, A) =>
                           (String, String))
    : Seq[(String, A, String, String, String)] = {
    val byDir = rows.zipWithIndex.groupBy(_._1._1)
    val units = rows.map(_._1).distinct.map(byDir)
    fleetMap(units, parallelism, timeout) { unit =>
      unit.map { case ((dir, a), i) =>
        val family = IndexFamily.at(spark, Manifest.snapshot(spark, dir))
        val (status, detail) = one(family, dir, a)
        (i, (dir, a, IndexFamily.tag(family), status, detail))
      }
    } { unit =>
      unit.map { case ((dir, a), i) =>
        (i, (dir, a, "unknown", "failed",
          s"timed out after $timeout — the unit may still be running " +
            "in the background; its index stays writer-locked until " +
            "it finishes"))
      }
    }.flatten.sortBy(_._1).map(_._2)
  }

  /** Execute EVERY action of a fleet plan ([[indexMaintenancePlan]]'s
    * output over any mix of families) in one call — the last step of
    * the fleet loop: health union → plan → THIS. Each row's family is
    * sniffed from its manifest snapshot's key table ([[IndexFamily.at]]:
    * codes → IVF-PQ, postings → IVF, bands → MinHash, sigs → SimHash,
    * labels → SemDeDup state, shingles → decontam, hashes → exact,
    * funnel → funnel history) and the action dispatches to that
    * family's [[IndexFamily.maintain]]. Actions that need an input only the
    * operator can supply take it from `corpora` keyed by index dir —
    * text tables (canonical `id`/`text` columns) for the text-family
    * `dedup_prepass`, the embedding store (`id`/`v`) for a PQ rebuild.
    *
    * Per-row failure isolation: a row whose action cannot run unattended
    * (a PQ rebuild with no embedding store, a SemDeDup `rebuild` with
    * no k policy, a text-family `dedup_prepass` with no corpus) is
    * REPORTED, not thrown: fleet maintenance over a thousand indexes
    * must not abort on the one row that needs an operator. With
    * `runbookDir`, the persisted [[FleetRunbook]] answers for every
    * dir `corpora` omits — vectors/text from its side-input path, a
    * SemDeDup k from its `target_cluster_size` policy — so the
    * unattended loop executes those rows instead of skipping them
    * (q263). Returns the report: one row per plan row,
    * (dir, family, action, status, detail) with status `executed` /
    * `skipped` / `failed`. Driver-side loop over a bounded plan (the
    * fleet table is one row per index by construction); each executed
    * action is itself a distributed job under that index's writer
    * lock — which is why `parallelism > 1` is safe and what a
    * thousand-index fleet wants: the units touch disjoint lock
    * domains, so N compactions overlap their scheduling floors. Rows
    * naming the SAME dir run sequentially inside one unit (they share
    * a lock domain — racing them would fabricate `failed` rows), and
    * report order is preserved either way; `timeout` bounds the
    * parallel wait per [[fleetMap]] (overruns report `failed`, never
    * discard the fleet's report). */
  def fleetMaintenanceApply(spark: SparkSession,
                            plan: DataFrame,
                            corpora: Map[String, DataFrame] = Map.empty,
                            parallelism: Int = 1,
                            runbookDir: Option[String] = None,
                            timeout: scala.concurrent.duration.Duration =
                              scala.concurrent.duration.Duration.Inf)
    : DataFrame = {
    import spark.implicits._
    val rows = plan.select(col("dir").cast("string"),
      col("action").cast("string")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    // side-input resolution order: the caller's corpora map wins, the
    // persisted runbook answers for every dir it omits — ONE bounded
    // collect for the whole fleet, so the unattended loop needs no
    // hand-held inputs at all
    val side = FleetRunbook.sides(spark, corpora.get, runbookDir)
    fleetRun(spark, rows, parallelism, timeout) {
      case (_, _, "none") => ("skipped", "no action planned")
      case (None, _, _) => unrecognized
      case (Some(f), dir, action) => f.maintain(spark, dir, action, side)
    }.map { case (dir, action, family, status, detail) =>
      (dir, family, action, status, detail)
    }.toDF("dir", "family", "action", "status", "detail")
  }

  /** Erase documents across the WHOLE persisted-index fleet in one
    * call — the compliance verb over the per-family deletes
    * ([[ivfDelete]], [[Dedup.exactIndexDelete]] and siblings): given
    * the retracted docs (ids; text too if an exact-hash index is in
    * the fleet — that family is content-keyed), each index dir's
    * family is sniffed from its manifest tables and its
    * [[IndexFamily.erase]] dispatches, with [[fleetMaintenanceApply]]'s per-row
    * failure isolation (a family missing its required side input
    * reports `skipped`, never aborts the fleet). Pairs with
    * [[SnapshotDiff.diff]]: a corpus refresh's `removed` rows ARE
    * this function's input (q258/q259). Probes go silent immediately;
    * each family's next compaction folds the debt ([[Manifest]]
    * Tombstones contract). Returns one (dir, family, status, detail)
    * row per index.
    *
    * Two optional side inputs close this verb's documented sharp
    * edges:
    *   - `survivors` (the post-refresh corpus, id + `textCol`) makes
    *     the CONTENT-keyed exact family sharer-safe: a doomed hash
    *     whose exact text another LIVE doc still carries is NOT
    *     tombstoned (erasing one copy must not silence duplicate
    *     detection for the survivors — the hole a takedown would
    *     otherwise open until a manual re-append). Without it every
    *     doomed hash is tombstoned (the raw key-level contract).
    *   - `decontamRemaining` (the benchmark corpus minus the
    *     retirees) makes the shingle-keyed decontam family
    *     EXECUTABLE instead of `skipped`:
    *     [[Decontamination.decontamIndexRebuild]] swaps in the
    *     remaining suites' shingle set behind one manifest flip.
    * Audit the result with [[fleetEraseAudit]] after each family's
    * compaction folds its debt. `parallelism > 1` runs the per-index
    * deletes on that many driver threads (disjoint writer-lock
    * domains — see [[fleetMaintenanceApply]]), report order
    * preserved. */
  def fleetDelete(spark: SparkSession,
                  dirs: Seq[String], docs: DataFrame,
                  idCol: String = "id",
                  textCol: Option[String] = None,
                  survivors: Option[DataFrame] = None,
                  decontamRemaining: Option[DataFrame] = None,
                  parallelism: Int = 1,
                  runbookDir: Option[String] = None,
                  timeout: scala.concurrent.duration.Duration =
                    scala.concurrent.duration.Duration.Inf)
    : DataFrame = {
    import spark.implicits._
    // the runbook answers for the decontam family's remaining-suites
    // side input when the caller omits `decontamRemaining` — the same
    // resolution order as [[fleetMaintenanceApply]]
    val erase = IndexFamily.Erase(docs, idCol, textCol, survivors,
      FleetRunbook.sides(spark, _ => decontamRemaining, runbookDir))
    fleetRun(spark, dirs.map(_ -> (())), parallelism, timeout) {
      (family, dir, _) =>
        family.fold(unrecognized)(_.erase(spark, dir, erase))
    }.map { case (dir, _, family, status, detail) =>
      (dir, family, status, detail)
    }.toDF("dir", "family", "status", "detail")
  }

  /** Fleet-wide point-in-time CLONE — [[IndexClone.cloneIndex]] over a
    * whole mixed-family fleet in one call: each dir clones at its own
    * consistent latest snapshot into `dstRoot/<basename>`, with the
    * same per-row failure isolation as every fleet verb (one index
    * whose copy fails — say its pin outlived the source's grace window
    * under a racing double-publish — reports `failed` and never aborts
    * the sweep). The backup/restore and blue-green verb: point probes
    * at the clone root, rebuild or experiment there, flip back — the
    * source's writer locks are never taken (clones are readers), the
    * clones' own locks make the copies embarrassingly parallel.
    * Returns (src, dst, family, status, detail, tables, files, bytes,
    * src_version) — the dated evidence row a backup schedule files. */
  def fleetClone(spark: SparkSession,
                 dirs: Seq[String], dstRoot: String,
                 parallelism: Int = 1,
                 copyParallelism: Int = 64,
                 timeout: scala.concurrent.duration.Duration =
                   scala.concurrent.duration.Duration.Inf): DataFrame = {
    import spark.implicits._
    require(dirs.nonEmpty,
      "fleetClone: dirs is empty — a backup sweep needs at least one " +
        "index dir")
    def base(d: String) = new org.apache.hadoop.fs.Path(d).getName
    require(dirs.map(base).distinct.size == dirs.distinct.size,
      s"fleetClone: duplicate index basenames would collide under " +
        s"$dstRoot — pass distinct-named dirs")
    def cloneOne(dir: String)
      : (String, String, String, String, String, Long, Long, Long, Long) = {
      val dst = s"$dstRoot/${base(dir)}"
      val family = IndexFamily.tag(
        IndexFamily.at(spark, Manifest.snapshot(spark, dir)))
      // one row per cloned table; none when the copy failed
      var rows = Array.empty[org.apache.spark.sql.Row]
      val (status, detail) = attempt {
        rows = IndexClone.cloneIndex(spark, dir, dst,
          parallelism = copyParallelism)
          .select("files", "bytes", "src_version").collect()
      }
      (dir, dst, family, status, detail, rows.length.toLong,
        rows.map(_.getLong(0)).sum, rows.map(_.getLong(1)).sum,
        rows.headOption.map(_.getLong(2)).getOrElse(-1L))
    }
    fleetMap(dirs.distinct, parallelism, timeout)(cloneOne) { dir =>
      (dir, s"$dstRoot/${base(dir)}", "unknown", "failed",
        s"timed out after $timeout — the copy may still be running in " +
          "the background; its clone target stays writer-locked until " +
          "it finishes", 0L, 0L, 0L, -1L)
    }.toDF("src", "dst", "family", "status", "detail", "tables",
      "files", "bytes", "src_version")
  }

  /** Fleet-wide ERASURE-COMPLETION audit — the evidence artifact a
    * GDPR/takedown process actually files, composed from pieces that
    * already exist (manifest snapshots, tombstone pending counts,
    * per-family key columns): for each index dir, count the retracted
    * keys' rows PHYSICALLY PRESENT in the live files of the current
    * manifest snapshot (no tombstone filtering — this reads what is
    * on disk, which is the question a regulator asks) plus the
    * pending-tombstone debt, and pin `complete` = zero live key rows
    * AND zero pending debt. Run it after [[fleetDelete]] + each
    * family's compaction: a `complete=false` row names exactly which
    * family still carries the key (delete never ran, compaction
    * hasn't folded, or — content-keyed exact family — the hash was
    * sharer-protected and legitimately lives on).
    *
    * Key shape per family: content hash for exact (needs `textCol`),
    * the doc id for minhash/simhash/ivf/ivf_pq/semdedup, the doomed
    * docs' distinct shingles at the pinned width for decontam — where
    * a nonzero count can be LEGITIMATE residue (a remaining suite
    * shares those shingles). With `decontamRemaining` (the same
    * remaining-suites input the rebuild retraction takes) the audit
    * COMPUTES that residue — `expected_residue` = |doomed shingles ∩
    * remaining-suite shingles| — and pins the decontam `complete` to
    * `keys_live == expected_residue && deleted_pending == 0`, making
    * the verdict decidable for all eight families instead of punting
    * the judgment to the caller; without it the decontam row keeps
    * the raw zero-residue rule. Every other family's
    * `expected_residue` is 0 (-1 where unauditable). Cost: ONE
    * collected action for the whole fleet (each index contributes a
    * lazy broadcast-class semi-join aggregate to one union; the
    * retraction batch is tiny by definition); the scan is the audit —
    * reading every live file is the point. Returns one LAZY
    * (dir, family, table, keys_live, expected_residue,
    * deleted_pending, version, complete) row per index. */
  def fleetEraseAudit(spark: SparkSession,
                      dirs: Seq[String], docs: DataFrame,
                      idCol: String = "id",
                      textCol: Option[String] = None,
                      decontamRemaining: Option[DataFrame] = None)
    : DataFrame = {
    require(dirs.nonEmpty,
      "fleetEraseAudit: dirs is empty — an erasure audit needs at " +
        "least one index dir")
    val erase = IndexFamily.Erase(docs, idCol, textCol, None,
      FleetRunbook.sides(spark, _ => decontamRemaining, None))
    val frames = dirs.map { dir =>
      val snap = Manifest.snapshot(spark, dir)
      val family = IndexFamily.at(spark, snap)
      val table = family.fold("")(_.keyTable)
      // every per-index reading rides ONE aggregate over a tagged
      // union of its (up to three) source tables; the whole fleet
      // report unions into ONE collected action — auditing a thousand
      // indexes must not run a thousand driver-side count jobs, and an
      // index must not pay the former keysLive × expected × pending
      // crossJoin chain's two broadcast-exchange jobs per reading
      // either (-1 = unauditable: unrecognized layout, the doc-keyless
      // funnel history, or a content/shingle-keyed family with no text
      // supplied). Tags: 1 = live key rows, 2 = expected residue,
      // 3 = pending tombstone rows (distinct via the [[OpsStats]]
      // to_json serialization).
      def tag(df: DataFrame, t: Int): DataFrame =
        df.select(lit(t).as("_t"), lit(null).cast("string").as("_v"))
      // Left(literal) or Right(tagged rows to count)
      type Reading = Either[Long, DataFrame]
      val unauditable: Reading = Left(-1L)
      val (keysLive, expected, pending) = family.filter(_.audited) match {
        case None => (unauditable, unauditable, unauditable)
        case Some(f) => (
          f.eraseKeys(spark, snap, erase).fold(unauditable) {
            case (keys, on) => Right(tag(Manifest.read(spark,
              snap.path(table)).join(keys, Seq(on), "left_semi"), 1))
          },
          f.residue(spark, dir, erase).map(tag(_, 2)),
          Tombstones.readIfAny(spark, snap) match {
            case Some(tdf) => Right(tdf.select(lit(3).as("_t"),
              to_json(struct(tdf.columns.map(col): _*)).as("_v")))
            case None => Left(0L)
          })
      }
      val parts = Seq(keysLive, expected, pending)
        .collect { case Right(df) => df }
      val agged: DataFrame =
        if (parts.isEmpty) spark.range(1).toDF("_one")
        else parts.reduce(_ unionByName _).agg(
          count(when(col("_t") === 1, 1)).as("_c1"),
          count(when(col("_t") === 2, 1)).as("_c2"),
          count_distinct(when(col("_t") === 3, col("_v"))).as("_c3"))
      def reading(e: Reading, c: String): org.apache.spark.sql.Column =
        e.fold(lit(_), _ => col(c))
      val keysCol = reading(keysLive, "_c1")
      val expCol = reading(expected, "_c2")
      val pendCol = reading(pending, "_c3")
      agged.select(lit(dir).as("dir"),
        lit(IndexFamily.tag(family)).as("family"),
        lit(table).as("table"), keysCol.as("keys_live"),
        expCol.as("expected_residue"), pendCol.as("deleted_pending"),
        lit(snap.version).as("version"),
        (keysCol === greatest(expCol, lit(0L)) && pendCol === 0L)
          .as("complete"))
    }
    frames.reduce(_ unionByName _)
  }

  /** LSH-bucketed ANN: score only same-bucket (plus probed-bucket) pairs.
    * At 100 TB the corpus side is one scan + one shuffle on bucket id. */
  def lsh(queries: DataFrame, corpus: DataFrame, k: Int,
          nBits: Int = 8, nProbe: Int = 2): DataFrame = {
    val c = corpus.select(col("id"), col("v"),
      V.lshBucket(col("v"), nBits).as("bucket"))
    // probe: the query's own bucket plus single-bit flips (0..nProbe-1)
    val q = queries.select(col("qid"), col("qv"),
      V.lshBucket(col("qv"), nBits).as("qb"))
      .select(col("qid"), col("qv"), explode(array(
        (lit(0) +: (0 until nProbe).map(b => lit(1 << b))).map(f =>
          col("qb").bitwiseXOR(f)): _*)).as("bucket"))
    cosineTopK(c.join(broadcast(q), Seq("bucket")), k)
  }
}
