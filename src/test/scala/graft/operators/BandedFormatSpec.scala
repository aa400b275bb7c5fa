package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The on-disk format of the MinHash and SimHash indexes, pinned: after
  * a build, an append and a delete, the parquet schema of every data
  * file of `bands` / `sigs`, the bytes of `_minhash_meta` and the sorted
  * stored rows must equal the literals below, which were read from
  * indexes the same sequence wrote before the two families shared one
  * implementation. */
class BandedFormatSpec extends SparkSpec {
  import spark.implicits._

  private def words(i: Int): String =
    (0 until 12).map(j => s"t${(i * 13 + j * 5) % 41}").mkString(" ")

  private lazy val base: DataFrame =
    (0 until 4).map(i => (i.toLong, words(i))).toDF("id", "text")
  private lazy val added: DataFrame =
    Seq(10L -> words(1), 11L -> words(20)).toDF("id", "text")
  private lazy val gone: DataFrame = Seq(2L).toDF("id")

  /** The distinct parquet message types of a table's data files. */
  private def parquetSchemas(path: String): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    Lifecycle.parquetFiles(spark, path).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try r.getFooter.getFileMetaData.getSchema.toString.trim
      finally r.close()
    }.toSet
  }

  private def storedRows(dir: String, table: String): Seq[String] =
    spark.read.parquet(Manifest.snapshot(spark, dir).path(table)).collect()
      .map(_.toSeq.mkString(",")).toSeq.sorted

  test("MinHash and SimHash indexes keep their on-disk format through " +
    "build, append and delete") {
    graft.util.TempDirs.using("fmt_mh", "fmt_sh") { case Seq(mh, sh) =>
      Dedup.minhashIndexBuild(base, mh, "id", "text", 3, 4, 2)
      Dedup.minhashIndexAppend(spark, mh, added, "id", "text")
      Dedup.minhashIndexDelete(spark, mh, gone)
      Dedup.simhashIndexBuild(base, sh, "id", "text")
      Dedup.simhashIndexAppend(spark, sh, added, "id", "text")
      Dedup.simhashIndexDelete(spark, sh, gone)
      val meta = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(mh, "_minhash_meta")), "UTF-8")
      val got = Map(
        "bands schema" -> parquetSchemas(
          Manifest.snapshot(spark, mh).path("bands")).toSeq,
        "sigs schema" -> parquetSchemas(
          Manifest.snapshot(spark, sh).path("sigs")).toSeq,
        "meta" -> Seq(meta),
        "bands rows" -> storedRows(mh, "bands"),
        "sigs rows" -> storedRows(sh, "sigs"))
      assert(got == BandedFormatSpec.expected)
    }
  }
}

object BandedFormatSpec {
  val expected: Map[String, Seq[String]] = Map(
    "bands schema" -> Seq("message spark_schema {\n  required int64 id;\n" +
      "  required int32 band;\n  required binary bucket (STRING);\n}"),
    "sigs schema" -> Seq("message spark_schema {\n  required int64 id;\n" +
      "  required int64 sig;\n}"),
    "meta" -> Seq("shingleN=3\nsigK=4\nbands=2\n"),
    "bands rows" -> Seq(
      "0,0,4afe70a05de291f682714c920301d65e",
      "0,1,6500712de1997da83aa1724134e4760e",
      "1,0,22164d86f5a006330e5ab1497413eb63",
      "1,1,8d9b920abd97b14df627ef23f7eb6eb3",
      "10,0,22164d86f5a006330e5ab1497413eb63",
      "10,1,8d9b920abd97b14df627ef23f7eb6eb3",
      "11,0,d5abd6a066059576f812a0e2c6658fe7",
      "11,1,d1ba1c109e81329310573d426e5a0f8c",
      "2,0,3a5913cd4fff5ae53c9ebca78438d964",
      "2,1,f8130afefbcfcc310067875deb70d907",
      "3,0,0104f8b59c6f21cd39a3e9198c3fa4d6",
      "3,1,6f07f911621b55e2fc6da0d0986a7281"),
    "sigs rows" -> Seq("0,925952793377132957", "1,-7160423783682011099",
      "10,-7160423783682011099", "11,-2555389607738861439",
      "2,7949175666191523261", "3,-2547224631366909929"))
}
