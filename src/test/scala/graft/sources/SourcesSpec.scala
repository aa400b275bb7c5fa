package graft.sources

import graft.SparkSpec
import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Avro read + feature vectorization + model IO round-trips, on synthetic
  * TrainingExampleAvro-shaped files (FIXTURES.md §1). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def trainingSchema: Schema = {
    val feature = SchemaBuilder.record("FeatureAvro").fields()
      .requiredString("name").requiredString("term").requiredDouble("value")
      .endRecord()
    SchemaBuilder.record("TrainingExampleAvro").fields()
      .optionalString("uid")
      .requiredDouble("label")
      .name("features").`type`().array().items(feature).noDefault()
      .name("weight").`type`().unionOf().nullType().and().doubleType()
      .endUnion().nullDefault()
      .name("metadataMap").`type`().optional().map().values().stringType()
      .endRecord()
  }

  /** `body` over a fresh `n`-record avro file (deleted afterwards). */
  private def withAvro[A](n: Int)(body: String => A): A =
    graft.util.TempDirs.using("avro") { case Seq(d) =>
      body(writeAvro(new java.io.File(d), n))
    }

  private def writeAvro(dir: java.io.File, n: Int): String = {
    dir.mkdirs()
    val schema = trainingSchema
    val fSchema = schema.getField("features").schema().getElementType
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    val file = new java.io.File(dir, "part-0.avro")
    writer.create(schema, file)
    (0 until n).foreach { i =>
      val rec = new GenericData.Record(schema)
      rec.put("uid", s"u$i")
      rec.put("label", if (i % 2 == 0) 1.0 else 0.0)
      val f1 = new GenericData.Record(fSchema)
      f1.put("name", "age"); f1.put("term", ""); f1.put("value", i * 1.0)
      val f2 = new GenericData.Record(fSchema)
      f2.put("name", "geo"); f2.put("term", s"g${i % 3}")
      f2.put("value", 1.0)
      rec.put("features", java.util.Arrays.asList(f1, f2))
      rec.put("weight", if (i % 5 == 0) null else 2.0)
      val md = new java.util.HashMap[String, String]()
      md.put("src", "test")
      rec.put("metadataMap", md)
      writer.append(rec)
    }
    writer.close()
    file.getPath
  }

  test("avro read infers the photon schema mapping and reads values") {
    withAvro(20) { path =>
      val df = AvroIO.read(spark, Seq(path))
      val types = df.schema.fields.map(f => f.name -> f.dataType.sql).toMap
      assert(types("uid") == "STRING")
      assert(types("label") == "DOUBLE")
      assert(types("weight") == "DOUBLE") // [null,double] union unwrapped
      assert(types("metadataMap") == "MAP<STRING, STRING>")
      assert(types("features").startsWith("ARRAY<STRUCT<"))
      assert(df.count() == 20)
      val r = df.filter(col("uid") === "u0").select("label", "weight").first()
      assert(r.getDouble(0) == 1.0 && r.isNullAt(1))
      val feats = df.filter(col("uid") === "u3")
        .select(explode(col("features"))).collect()
      assert(feats.length == 2)
    }
  }

  test("index map is deterministic and vectorization merges bags") {
    withAvro(30) { path =>
      val df = AvroIO.read(spark, Seq(path))
      val (merged, maps) = FeatureVectorizer.readMerged(df,
        Map("shard1" -> Seq("features")))
      val idx = maps("shard1").collect().map(r => r.getString(0) -> r.getInt(1))
      // sorted by key → deterministic dense indices
      assert(idx.map(_._1).toSeq == idx.map(_._1).toSeq.sorted)
      assert(idx.map(_._2).toSeq == idx.indices.toSeq)
      // 1 "age" key + 3 geo terms
      assert(idx.length == 4)
      val v = merged.filter(col("uid") === "u4").select("shard1")
        .first().getAs[Vector](0)
      assert(v.size == 4)
      // age=4.0 and geo g1=1.0 present
      assert(v.toArray.count(_ != 0.0) == 2)
      assert(v.toArray.sum == 5.0)
      assert(merged.columns.contains("shard1") &&
        !merged.columns.contains("features"))
    }
  }

  test("buildIndexMap is distributed, repeatable, and rank-ordered") {
    // many distinct keys across several partitions: the index build must
    // not funnel through a single task (the r3 global-window bug)
    val df = (0 until 2000).map { i =>
      (i.toLong, Seq((s"f${i % 700}", s"t${i % 13}", 1.0)))
    }.toDF("uid", "bag")
      .select(col("uid"), col("bag")
        .cast("array<struct<name:string,term:string,value:double>>"))
      .repartition(8)
    // no single-task stage: with AQE's small-data coalescing disabled,
    // the range-sorted index RDD keeps a multi-partition layout end to
    // end (the r3 bug was a global window that forced 1 partition at ANY
    // size; AQE coalescing tiny shuffles to 1 is correct and unrelated)
    val m1 = graft.util.ExecProfile.withConfs(spark,
        Map("spark.sql.adaptive.coalescePartitions.enabled" -> "false")) {
      val m = FeatureVectorizer.buildIndexMap(df, Seq("bag"))
      assert(m.rdd.getNumPartitions > 1,
        s"index build collapsed to ${m.rdd.getNumPartitions} partition(s)")
      m
    }
    val got = m1.collect().map(r => r.getString(0) -> r.getInt(1))
    // indices are exactly the rank in sorted-key order, 0..n-1 dense
    val keys = got.map(_._1).toSeq
    assert(keys == keys.sorted)
    assert(got.map(_._2).toSeq == got.indices.toSeq)
    // repeatable run to run (determinism is what makes saved models and
    // index maps interchangeable across retrains)
    val again = FeatureVectorizer.buildIndexMap(df, Seq("bag"))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    assert(got.toMap == again.toMap)
  }

  test("activeIndexUnion matches the per-entity local union (U5)") {
    // mixed dense/sparse vectors with exact zeros: the union must keep
    // only indices some row in the group activates with a NONZERO value,
    // and must agree with FeatureSelection.activeIndices (the group-
    // local union the per-entity solver uses)
    val rows = Seq(
      ("e0", org.apache.spark.ml.linalg.Vectors.dense(1.0, 0.0, 2.0, 0.0)),
      ("e0", org.apache.spark.ml.linalg.Vectors.sparse(4, Array(1), Array(0.0))),
      ("e0", org.apache.spark.ml.linalg.Vectors.sparse(4, Array(2, 3), Array(4.0, 5.0))),
      ("e1", org.apache.spark.ml.linalg.Vectors.sparse(4, Array(1), Array(7.0))))
    val df = rows.toDF("entity", "vec")
    val got = FeatureVectorizer.activeIndexUnion(df, Seq("entity"), "vec")
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    assert(got("e0") == Seq(0, 2, 3)) // index 1 only ever appears as 0.0
    assert(got("e1") == Seq(1))
    rows.groupBy(_._1).foreach { case (e, rs) =>
      val samples = rs.map(r =>
        graft.ml.LabeledPoint(0.0, r._2, 0.0, 1.0)).toArray
      assert(graft.ml.FeatureSelection.activeIndices(samples, 4).toSeq ==
        got(e))
    }
  }

  test("join-based vectorization equals the broadcast path") {
    withAvro(30) { path =>
      val df = AvroIO.read(spark, Seq(path))
      val indexMap = FeatureVectorizer.buildIndexMap(df, Seq("features"))
      val broadcastVec = FeatureVectorizer.vectorize(df, Seq("features"),
        indexMap, "vec")
      // vocab limit 0 forces the distributed explode+join path
      val joinVec = FeatureVectorizer.vectorize(df, Seq("features"),
        indexMap, "vec", broadcastVocabLimit = 0)
      val a = broadcastVec.select("uid", "vec").collect()
        .map(r => r.getString(0) -> r.getAs[Vector](1)).toMap
      val b = joinVec.select("uid", "vec").collect()
        .map(r => r.getString(0) -> r.getAs[Vector](1)).toMap
      assert(a.keySet == b.keySet)
      a.foreach { case (k, v) => assert(v == b(k), s"mismatch at $k") }
    }
  }

  test("vectorizeHashed: md5 buckets, collision accumulation, no vocab pass") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def bucketOf(name: String, term: String, n: Int): Int = {
      val key = name + "\u0001" + term
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
      val hex8 = ((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) |
        ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)
      (hex8 % n).toInt
    }
    val df = Seq(
      (1L, Seq(("a", "x", 2.0), ("a", "x", 3.0)), // duplicate key: sums
        Seq(("b", "y", 7.0))),
      (2L, Seq[(String, String, Double)](), Seq(("b", "z", 1.0))))
      .toDF("uid", "raw1", "raw2")
      .select(col("uid"),
        transform(col("raw1"), e => struct(e.getField("_1").as("name"),
          e.getField("_2").as("term"), e.getField("_3").as("value")))
          .as("bag1"),
        transform(col("raw2"), e => struct(e.getField("_1").as("name"),
          e.getField("_2").as("term"), e.getField("_3").as("value")))
          .as("bag2"))
    val n = 16
    val got = FeatureVectorizer
      .vectorizeHashed(df, Seq("bag1", "bag2"), "vec", n)
      .select("uid", "vec").collect()
      .map(r => r.getLong(0) -> r.getAs[Vector](1)).toMap
    val ax = bucketOf("a", "x", n)
    val by = bucketOf("b", "y", n)
    val bz = bucketOf("b", "z", n)
    assert(got(1L)(ax) == 5.0, "duplicate keys must accumulate")
    assert(got(1L)(by) == 7.0)
    assert(got(1L).toArray.sum == 12.0)
    assert(got(2L)(bz) == 1.0 && got(2L).toArray.sum == 1.0)
    assert(got.values.forall(_.size == n))
    // bucket expression matches the Catalyst md5/conv path exactly
    val sqlBucket = df.sparkSession.sql(
      s"SELECT CAST(conv(substring(md5(concat('a', chr(1), 'x')), 1, 8), 16, 10) " +
        s"AS BIGINT) % $n").first().getLong(0).toInt
    assert(sqlBucket == ax)
  }

  test("feature indexing and name-term bag drivers write vocab artifacts") {
    import graft.drivers.{Args, FeatureIndexingDriver, NameAndTermFeatureBagsDriver}
    graft.util.TempDirs.using("avro", "graft-feat") { case Seq(in, tmp) =>
      val raw = AvroIO.read(spark, Seq(writeAvro(new java.io.File(in), 25)))
      raw.write.mode("overwrite").parquet(s"$tmp/input")
      val idx = FeatureIndexingDriver.run(spark, Args.parse(Array(
        "--input-dir", s"$tmp/input", "--bag-cols", "features",
        "--output-dir", s"$tmp/index", "--num-partitions", "1")))
      assert(idx.columns.toSeq == Seq("featureKey", "index"))
      val persisted = spark.read.parquet(s"$tmp/index")
      assert(persisted.count() == idx.count())
      val bags = NameAndTermFeatureBagsDriver.run(spark, Args.parse(Array(
        "--input-dir", s"$tmp/input", "--bag-cols", "features",
        "--output-dir", s"$tmp/bags")))
      val names = spark.read.parquet(s"$tmp/bags/features")
      assert(names.columns.toSeq == Seq("name", "term"))
      assert(names.count() == 4) // age + 3 geo terms
      assert(bags("features").count() == 4)
    }
  }

  test("selected-features whitelist filters the index map, indices dense") {
    import spark.implicits._
    withAvro(20) { path =>
      val df = AvroIO.read(spark, Seq(path))
      val whitelist = Seq(("age", ""), ("geo", "g1")).toDF("name", "term")
      val idx = FeatureVectorizer.buildIndexMap(df, Seq("features"),
        Some(whitelist)).collect().map(r => r.getString(0) -> r.getInt(1))
      assert(idx.length == 2)
      assert(idx.map(_._2).sorted.toSeq == Seq(0, 1)) // still dense
      // vectorizing with the filtered map drops non-whitelisted features
      val vec = FeatureVectorizer.vectorize(df, Seq("features"),
        FeatureVectorizer.buildIndexMap(df, Seq("features"), Some(whitelist)),
        "v")
      assert(vec.select("v").head().getAs[Vector](0).size == 2)
    }
  }

  test("devectorize inverts vectorize") {
    withAvro(10) { path =>
      val df = AvroIO.read(spark, Seq(path))
      val (merged, maps) = FeatureVectorizer.readMerged(df,
        Map("shard1" -> Seq("features")))
      val back = FeatureVectorizer.devectorize(merged, "shard1",
        maps("shard1"), "bag")
      val bag = back.filter(col("uid") === "u4")
        .select(explode(col("bag")).as("f"))
        .select("f.name", "f.term", "f.value").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      assert(bag == Set(("age", "", 4.0), ("geo", "g1", 1.0)))
    }
  }

  test("avro write round-trips through the avro reader (S9)") {
    graft.util.TempDirs.using("avro", "avro-out") { case Seq(in, out) =>
      val df = AvroIO.read(spark, Seq(writeAvro(new java.io.File(in), 25)))
        .repartition(3)
      val dir = out + "/examples"
      AvroIO.writeTrainingExamples(df, dir)
      // multiple container part files (one per non-empty partition)...
      val parts = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".avro"))
      assert(parts.length > 1, s"expected distributed write, got ${parts.length}")
      // ...that the reader consumes back bit-for-bit
      val back = AvroIO.read(spark, Seq(dir))
      assert(back.count() == 25)
      def key(r: org.apache.spark.sql.Row) = r.getAs[String]("uid")
      val a = df.collect().map(r => key(r) -> r.toString).toMap
      val b = back.collect().map(r => key(r) -> r.toString).toMap
      assert(a == b)
      // maxFiles caps the output file count
      AvroIO.write(df, dir + "-one", maxFiles = 1)
      assert(new java.io.File(dir + "-one").listFiles()
        .count(_.getName.endsWith(".avro")) == 1)
    }
  }

  test("game model save/load round trip preserves scores") {
    import graft.ml._
    import graft.ml.CoordinateDescent._
    val fixed = TrainedFixed(
      FixedSpec("f", "feat", 2, GlmConfig(SquaredLoss)),
      GlmModel(Array(1.5, -0.5), 0.25, "squared"))
    val res = spark.createDataset(Seq(
      RandomEffect.ReModel("a", Array(2.0), 0.1),
      RandomEffect.ReModel("b", Array(-1.0), 0.0)))
    val game = GameModel(Map("f" -> fixed,
      "r" -> TrainedRandom(RandomSpec("r", "rid", "feat", 1,
        GlmConfig(SquaredLoss)), res.toDF())))
    graft.util.TempDirs.using("model") { case Seq(dir) =>
      ModelIO.saveGame(spark, game, dir)
      val loaded = ModelIO.loadGame(spark, dir)

      val lf = loaded.coordinates("f").asInstanceOf[TrainedFixed].model
      assert(lf.coef.toSeq == Seq(1.5, -0.5) && lf.intercept == 0.25)
      val lr = loaded.coordinates("r").asInstanceOf[TrainedRandom].models
        .collect().map(r => r.getString(0) ->
          (r.getSeq[Double](1), r.getDouble(2))).toMap
      assert(lr("a")._1 == Seq(2.0) && lr("a")._2 == 0.1)
      assert(lr("b")._1 == Seq(-1.0))
    }
  }

  test("libsvm source reads via the built-in format (S4)") {
    graft.util.TempDirs.using("libsvm") { case Seq(d) =>
      val dir = new java.io.File(d)
      dir.mkdirs()
      val f = new java.io.File(dir, "data.txt")
      Files.writeString(f.toPath,
        "1 1:0.5 3:1.5\n0 2:2.0\n1 1:1.0 2:1.0 3:1.0\n")
      val df = spark.read.format("libsvm").option("numFeatures", "3")
        .load(f.getPath)
      assert(df.count() == 3)
      assert(df.schema.fieldNames.toSet == Set("label", "features"))
      // dedicated façade path lifts to the trainer's column contract
      val lifted = new DataReader(spark).readLibsvm(f.getPath, numFeatures = 3)
      assert(lifted.schema.fieldNames.toSeq ==
        Seq("label", "features", "offset", "weight"))
      val r = lifted.orderBy("label").collect()
      assert(r.length == 3 && r.last.getDouble(0) == 1.0)
      val m = graft.ml.Glm.train(
        lifted.as[graft.ml.LabeledPoint](
          org.apache.spark.sql.Encoders.product[graft.ml.LabeledPoint]), 3,
        graft.ml.GlmConfig(graft.ml.LogisticLoss, l2 = 1.0, maxIter = 20))
      assert(m.coef.length == 3)
    }
  }
}
