package perfbench

import java.util.SplittableRandom

import scala.util.hashing.MurmurHash3

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ml._
import graft.ml.CoordinateDescent._
import graft.sources.{FeatureVectorizer, ModelIO}

case class Feat(name: String, term: String, value: Double)

/** One generated training example (FIXTURES.md §1 shape): a
  * Yahoo-Music-style bag of (name, term, value) features and a user id. */
case class GameRow(uid: Long, label: Double, weight: Double, offset: Double,
                   userId: String, features: Seq[Feat])

/** Seeded generators shared by the workloads: a row's values depend on
  * the seed and the row index only, never on partitioning. */
object Gen {
  def rng(seed: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)

  /** Standard normal drawn from a hash of `key` under `seed`. */
  def hashGauss(seed: Long, key: String): Double =
    new SplittableRandom(MurmurHash3.stringHash(key, seed.toInt).toLong *
      31L + seed).nextGaussian()

  /** Zipf(s) index in [0, n) by inverse CDF of the continuous
    * approximation (s ≠ 1). */
  def zipf(r: SplittableRandom, n: Int, s: Double): Int = {
    val a = 1.0 - s
    val x = math.pow((math.pow(n + 1.0, a) - 1.0) * r.nextDouble() + 1.0,
      1.0 / a) - 1.0
    math.min(n - 1, math.max(0, x.toInt))
  }

  def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))
}

/** Rows with 30 categorical features drawn from 12 names × 1700 terms
  * (Zipf terms, ~20k keys) and a Zipf-skewed user; labels are Bernoulli
  * draws from a logistic model with hashed per-key weights and a
  * per-user bias. */
final case class GameGen(seed: Long, users: Int) {
  private val names = Array("genre", "artist", "album", "decade", "label",
    "mood", "tempo", "country", "lang", "channel", "device", "hour")

  def row(i: Long): GameRow = {
    val r = Gen.rng(seed, i)
    val userId = s"u${Gen.zipf(r, users, 0.8)}"
    var margin = 0.6 * Gen.hashGauss(seed, userId)
    val fs = Array.tabulate(30) { _ =>
      val n = names(r.nextInt(names.length))
      val t = s"t${Gen.zipf(r, 1700, 0.7)}"
      margin += 0.45 * Gen.hashGauss(seed, s"$n\u0001$t")
      Feat(n, t, 1.0)
    }
    GameRow(i, if (r.nextDouble() < Gen.sigmoid(margin)) 1.0 else 0.0,
      1.0, 0.0, userId, fs.toSeq)
  }
}

object Game {
  val HashDim = 16384
  val Passes = 2
  val FixedIter = 12
  val ReIter = 20
  val AucFloor = 0.65
}

/** GAME fit (CoordinateDescent.train for two passes over a hashed ~16k-dim
  * fixed effect and a per-user intercept, then ModelIO.saveGame) and
  * apply (ModelIO.loadGame, GameModel.score, Evaluators.auc) over a
  * seeded 80/20 train/holdout split. */
final class Game(ctx: Ctx) extends Workload {
  private val rows = math.max(2000L, (30000 * ctx.scale).toLong)
  private val users = math.max(20, (1000 * ctx.scale).toInt)
  private val gen = GameGen(ctx.seed, users)
  private val spans = ctx.spans
  private var spark: SparkSession = _
  private var train: DataFrame = _
  private var holdout: DataFrame = _
  private var lastDir = ""
  private var lastScores: DataFrame = _
  private var lastAuc = Double.NaN
  private var trainRows = 0L
  private var trainUsers = 0L

  private val coords = Seq(
    FixedSpec("global", "gvec", Game.HashDim, GlmConfig(LogisticLoss,
      l2 = 1.0, maxIter = Game.FixedIter, tol = 1e-12)),
    RandomSpec("per_user", "userId", "empty", 0, GlmConfig(LogisticLoss,
      l2 = 1.0, maxIter = Game.ReIter, tol = 1e-9)))

  def sizes: Seq[(String, Any)] = Seq(
    "rows" -> rows, "train_share" -> 0.8, "users" -> users,
    "features_per_row" -> 30, "hash_dims" -> Game.HashDim,
    "passes" -> Game.Passes, "fixed_max_iter" -> Game.FixedIter,
    "re_max_iter" -> Game.ReIter)
  def fitShare: Double = 0.6
  def minFits: Int = 2
  def minApplies: Int = 5
  def appliesPerCycle: Int = 1

  private def generated(s: SparkSession): DataFrame = {
    import s.implicits._
    val g = gen
    s.range(0L, rows, 1L, s.sparkContext.defaultParallelism * 2).as[Long]
      .map(g.row).toDF()
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    val data = spans("sources", "FeatureVectorizer.vectorizeHashed") {
      FeatureVectorizer.vectorizeHashed(generated(s), Seq("features"),
        "gvec", Game.HashDim)
    }.select(col("uid"), col("label"), col("weight"), col("offset"),
      col("userId"), col("gvec"),
      array_to_vector(array().cast("array<double>")).as("empty"))
    train = data.filter(col("uid") % 5 =!= 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    holdout = data.filter(col("uid") % 5 === 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    spans("sources", "materialise") {
      trainRows = train.count()
      holdout.count()
    }
  }

  def release(): Unit = {
    train.unpersist(true); holdout.unpersist(true)
  }

  def inputHash(): String = Hashing.frame(generated(spark))

  override def prepare(): Unit = {
    trainUsers = train.select("userId").distinct().count()
  }

  def fit(i: Int): Unit = {
    val dir = s"${ctx.root}/models/$i"
    val model = spans("ml.descent", "CoordinateDescent.train") {
      CoordinateDescent.train(train, coords, nIterations = Game.Passes)
    }
    spans("sources", "ModelIO.saveGame") {
      ModelIO.saveGame(spark, model, dir)
    }
    // applies read the saved model; free the trained one's checkpoint
    model.coordinates.values.foreach {
      case TrainedRandom(_, m) => m.queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(false)
        case _ => m.unpersist(false)
      }
      case _ => ()
    }
    lastDir = dir
  }

  def apply(i: Int): Unit = {
    val model = spans("sources", "ModelIO.loadGame") {
      ModelIO.loadGame(spark, lastDir)
    }
    val scores = spans("ml.score", "GameModel.score") {
      val s = model.score(holdout).persist(StorageLevel.MEMORY_AND_DISK)
      s.count()
      s
    }
    val auc = spans("ml.eval", "Evaluators.auc") {
      Evaluators.auc(scores.join(holdout.select("uid", "label"), "uid"),
        "score", "label")
    }
    if (lastScores != null) lastScores.unpersist(false)
    lastScores = scores
    lastAuc = auc
  }

  def quality: Double = lastAuc

  def checks(): Seq[(String, Boolean, String)] = {
    val model = ModelIO.loadGame(spark, lastDir)
    val n = lastScores.count()
    val bad = lastScores.filter(isnan(col("score")) ||
      col("score").isin(Double.PositiveInfinity, Double.NegativeInfinity))
      .count()
    val holdRows = holdout.count()
    // GameModel.score must equal the sum of the coordinates' own score
    // frames, row by row, on a sample
    val sample = holdout.filter(col("uid") % 53 === 0)
    def byUid(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val total = byUid(model.score(sample))
    val parts = model.coordinates.values.toSeq.map(c => byUid(c.score(sample)))
    val gaps = total.toSeq.map { case (uid, s) =>
      math.abs(s - parts.map(_.getOrElse(uid, Double.NaN)).sum) /
        (1.0 + math.abs(s))
    }
    val worst = if (gaps.exists(_.isNaN)) Double.NaN
      else gaps.foldLeft(0.0)(math.max)
    val sumOk = total.nonEmpty && parts.forall(_.size == total.size) &&
      worst <= 1e-9
    val models = model.coordinates("per_user").asInstanceOf[TrainedRandom]
      .models
    val (entities, distinct) =
      (models.count(), models.select("reId").distinct().count())
    Seq(
      ("scores_finite", bad == 0 && n == holdRows,
        s"$n scores for $holdRows holdout rows, $bad non-finite"),
      ("score_is_sum_of_coordinates", sumOk,
        s"${total.size} sampled rows, worst relative gap $worst"),
      ("entity_counts", entities == trainUsers && distinct == entities,
        s"per_user has $entities models for $distinct ids; " +
          s"$trainUsers users in training"),
      ("auc_floor", lastAuc >= Game.AucFloor,
        f"auc $lastAuc%.6f >= ${Game.AucFloor}"))
  }

  def counters(): Seq[(String, Double)] = Seq(
    "ml.fixed.rows" -> trainRows.toDouble,
    "ml.random.entities" -> trainUsers.toDouble,
    "ml.random.solves" -> trainUsers.toDouble * Game.Passes)
}

/** Order-independent digest of a frame's rows: xor of per-row 64-bit
  * hashes, plus the row count. Equal seeds give equal digests. */
object Hashing {
  def frame(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1))).head()
    f"${r.getLong(0)}%016x/${r.getLong(1)}"
  }
}
