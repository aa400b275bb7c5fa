package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-vector column functions over `array<double>` / `array<float>`.
  *
  * Built from Catalyst higher-order functions (`zip_with` + `aggregate`),
  * which codegen into tight loops — no UDF serialization, no boxing of the
  * whole array, and the expressions stay inside WholeStageCodegen. The fold
  * is sequential left-to-right, which makes the double accumulation
  * deterministic (same result on any cluster layout and in any engine that
  * folds in order).
  */
object VectorOps {

  /** Elementwise-exact upcast so all arithmetic happens in doubles. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  def normSq(a: Column): Column = dot(a, a)

  /** Cosine similarity, computed in ONE compiled pass per pair.
    *
    * Numerically identical to `dot(a,b) / sqrt(normSq(a)*normSq(b))`
    * built from the higher-order expressions above: each of the three
    * accumulators (dot, ‖a‖², ‖b‖²) is its own independent left-to-right
    * double sum, exactly the order the sequential `aggregate` fold and
    * the SQL `list_reduce` mirror use — so oracle hashes are unchanged.
    * The HOF formulation is interpreted per element (zip_with/aggregate
    * don't participate in whole-stage codegen) and walks the arrays three
    * times; on candidate-verification joins (Dedup.embeddingCosine,
    * Similarity.topK inputs) that was the dominant cost — ~6× slower
    * than a fused loop at 64 dims. The kernel is the native codegen
    * expression [[CosineSim]] (same history for the earlier UDF form:
    * the UDF loop beat the HOFs but still broke whole-stage codegen and
    * boxed every element; the expression reads the unsafe buffer
    * directly). */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.classic.GraftColumnShims
    GraftColumnShims.column(CosineSim(
      GraftColumnShims.expression(asDouble(a)),
      GraftColumnShims.expression(asDouble(b))))
  }

  /** a + s*b (axpy). */
  def axpy(s: Column, a: Column, b: Column): Column =
    zip_with(asDouble(a), asDouble(b), (x, y) => x + s * y)

  def scale(s: Column, a: Column): Column =
    transform(asDouble(a), x => x * s)

  /** Upper-triangle population covariance of the first `dim` coordinates
    * of an embedding column, as rows (i, j, cov) — the input to PCA /
    * whitening / Mahalanobis pipelines.
    *
    * ONE full-scan aggregate: all dim·(dim+1)/2 `covar_pop` moments are
    * columns of a single `agg`, so the plan is a map-side-combined hash
    * aggregate over the scan — no shuffle of exploded coordinate pairs
    * (a dim²-per-row explode would multiply a 100 TB scan by 2,080 at
    * dim 64). The quadratic agg-column count bounds `dim` (~100s of
    * coordinates); past that, switch to a treeAggregate outer product
    * over whole vectors. */
  def covarianceUpper(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 128, "covarianceUpper: dim in [1,128]")
    val pairs = for (i <- 0 until dim; j <- i until dim) yield (i, j)
    val aggs = pairs.map { case (i, j) =>
      covar_pop(element_at(col(vecCol), i + 1).cast("double"),
        element_at(col(vecCol), j + 1).cast("double")).as(s"_c_${i}_$j")
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs.map { case (i, j) =>
        struct(lit(i).as("i"), lit(j).as("j"),
          col(s"_c_${i}_$j").as("cov"))
      }: _*)).as("p"))
      .select("p.*")
  }

  /** ZCA whitening of the first `dim` coordinates: y = W·(x−μ) with
    * W = V·Λ^(−1/2)·Vᵀ from the eigendecomposition of the population
    * covariance — embeddings come out decorrelated with unit variance,
    * the standard preprocessing before cosine/Mahalanobis retrieval.
    *
    * Scale shape: ONE full-scan aggregate collects the dim(dim+1)/2
    * covariance moments plus the dim means (driver-sized, like k-means
    * centroids); the eigensolve is a dim×dim driver-side breeze
    * `eigSym`; the projection back over the data is a pure codegen
    * expression per output coordinate (64 multiply-adds at dim 8), so
    * the whole operator is one scan + one map — no shuffle of the data
    * at any point. `eps` regularizes near-zero eigenvalues. */
  def whiten(df: DataFrame, vecCol: String, dim: Int,
             eps: Double = 1e-9): DataFrame = {
    require(dim >= 1 && dim <= 64, "whiten: dim in [1,64]")
    val pairs = for (i <- 0 until dim; j <- i until dim) yield (i, j)
    val covAggs = pairs.map { case (i, j) =>
      covar_pop(element_at(col(vecCol), i + 1).cast("double"),
        element_at(col(vecCol), j + 1).cast("double")).as(s"_c_${i}_$j")
    }
    val meanAggs = (0 until dim).map(i =>
      avg(element_at(col(vecCol), i + 1).cast("double")).as(s"_m_$i"))
    val aggs = covAggs ++ meanAggs
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val m = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
    pairs.zipWithIndex.foreach { case ((i, j), k) =>
      m(i, j) = row.getDouble(k); m(j, i) = row.getDouble(k)
    }
    val mu = Array.tabulate(dim)(i => row.getDouble(pairs.length + i))
    val es = breeze.linalg.eigSym(m)
    val inv = breeze.linalg.diag(
      es.eigenvalues.map(l => 1.0 / math.sqrt(l + eps)))
    val w = es.eigenvectors * inv * es.eigenvectors.t
    val outCoords = (0 until dim).map { i =>
      (0 until dim).map { j =>
        lit(w(i, j)) *
          (element_at(col(vecCol), j + 1).cast("double") - lit(mu(j)))
      }.reduce(_ + _)
    }
    df.withColumn("whitened", array(outCoords: _*))
  }

  /** Deterministic pseudo-random hyperplane `seed`, cached per executor:
    * component i is md5("seed_i")'s leading 8 hex digits scaled to
    * [-1, 1) — exactly the SQL-mirrorable formula
    * `conv(substring(md5(concat_ws('_', seed, i)), 1, 8), 16, 10)
    *  / 2^31 − 1`, so oracles can rebuild it, but computed ONCE per
    * (seed, dim) per JVM instead of once per vector element per row
    * (the previous expression formulation ran dim×nBits md5 calls for
    * EVERY row — at 64 dims × 6 bits that was ~400 hashes per vector). */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()
  private def plane(seed: Int, dim: Int): Array[Double] =
    planeCache.computeIfAbsent((seed, dim), { case (s, d) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(d) { i =>
        md.reset()
        val hex = md.digest(s"${s}_$i".getBytes("UTF-8")).take(4)
          .map(b => f"$b%02x").mkString
        java.lang.Long.parseLong(hex, 16).toDouble / 2147483648.0 - 1.0
      }
    })

  /** Sign-of-projection LSH bit for one deterministic hyperplane. The
    * projection folds left-to-right like the SQL `list_reduce`, so the
    * double accumulation is bit-identical across engines. */
  def hyperplaneBit(v: Column, seed: Int): Column = {
    val bit = udf { (vec: Seq[Double]) =>
      if (vec == null) 0
      else {
        val h = plane(seed, vec.length)
        var acc = 0.0
        var i = 0
        while (i < vec.length) { acc += vec(i) * h(i); i += 1 }
        if (acc >= 0) 1 else 0
      }
    }
    bit(asDouble(v))
  }

  /** nBits-wide sign-LSH bucket id for an embedding: all bits in one
    * pass over the vector (one UDF call, cached hyperplanes). */
  def lshBucket(v: Column, nBits: Int): Column = {
    val bucketUdf = udf { (vec: Seq[Double]) =>
      if (vec == null) 0
      else {
        var bucket = 0
        var b = 0
        while (b < nBits) {
          val h = plane(b, vec.length)
          var acc = 0.0
          var i = 0
          while (i < vec.length) { acc += vec(i) * h(i); i += 1 }
          if (acc >= 0) bucket |= 1 << b
          b += 1
        }
        bucket
      }
    }
    bucketUdf(asDouble(v))
  }
}
