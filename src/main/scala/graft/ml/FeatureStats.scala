package graft.ml

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Feature summarization over a VectorUDT column (A4: the reference's
  * FeatureDataStatistics, photon-lib/.../stat/FeatureDataStatistics.scala:
  * 44-138) — one pass via ml.stat.Summarizer, no mllib RDD detour.
  * Also the source for Normalization contexts (P7). */
object FeatureStats {

  case class Summary(count: Long, mean: Array[Double],
                     variance: Array[Double], numNonzeros: Array[Double],
                     max: Array[Double], min: Array[Double],
                     normL1: Array[Double], normL2: Array[Double]) {
    /** Reference sanitizes 0/NaN variance to 1.0 (:68-82) so downstream
      * standardization never divides by zero. */
    def sanitizedStd: Array[Double] = variance.map { v =>
      if (v.isNaN || v <= 0.0) 1.0 else math.sqrt(v)
    }
  }

  def summarize(df: DataFrame, featuresCol: String,
                weightCol: Option[String] = None): Summary = {
    val metrics = Summarizer.metrics("count", "mean", "variance",
      "numNonZeros", "max", "min", "normL1", "normL2")
    val summaryCol = weightCol match {
      case Some(wc) => metrics.summary(col(featuresCol), col(wc))
      case None => metrics.summary(col(featuresCol))
    }
    val row = df.select(summaryCol.as("s")).select(
      col("s.count"), col("s.mean"), col("s.variance"),
      col("s.numNonZeros"), col("s.max"), col("s.min"),
      col("s.normL1"), col("s.normL2")).first()
    Summary(row.getLong(0),
      row.getAs[Vector](1).toArray, row.getAs[Vector](2).toArray,
      row.getAs[Vector](3).toArray, row.getAs[Vector](4).toArray,
      row.getAs[Vector](5).toArray, row.getAs[Vector](6).toArray,
      row.getAs[Vector](7).toArray)
  }

  /** Build a Normalization from a summary (NormalizationType mapping,
    * photon-lib/.../normalization/NormalizationContext.scala:37-128). */
  def normalization(kind: String, s: Summary): Normalization =
    kind.toUpperCase match {
      case "NONE" => Normalization.identity
      case "STANDARDIZATION" =>
        Normalization.standardization(s.mean, s.sanitizedStd)
      case "SCALE_WITH_STANDARD_DEVIATION" =>
        Normalization.scaleWithStd(s.sanitizedStd)
      case "SCALE_WITH_MAX_MAGNITUDE" =>
        Normalization.scaleWithMaxMagnitude(
          s.max.zip(s.min).map { case (mx, mn) =>
            math.max(math.abs(mx), math.abs(mn)) })
      case other =>
        throw new IllegalArgumentException(s"unknown normalization: $other")
    }
}
