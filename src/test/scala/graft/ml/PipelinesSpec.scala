package graft.ml

import java.nio.file.Files

import org.apache.spark.ml.{GraftTreeFixtures, GraftTreeKernel, Pipeline, PipelineModel, Transformer}
import org.apache.spark.ml.GraftTreeFixtures.{categorical, continuous, leaf}
import org.apache.spark.ml.feature.{Bucketizer, OneHotEncoderModel, StandardScaler, StringIndexerModel}
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
import org.apache.spark.ml.param.{Param, ParamMap, Params}
import org.apache.spark.ml.regression.{DecisionTreeRegressor, GBTRegressionModel, RandomForestRegressionModel}
import org.apache.spark.ml.tree.CategoricalSplit
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEvents, TestSpark}
import graft.ml.Pipelines.RegressionConfig

class PipelinesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def frame = (1 to 200).map { i =>
    val cat = if (i % 3 == 0) "a" else "b"
    (i.toDouble % 24, cat, (i % 24) * 2.0 + (if (cat == "a") 5.0 else 0.0))
  }.toDF("hour", "kind", "y")

  private val cfg = RegressionConfig(
    label = "y", numericCols = Seq("hour"), categoricalCols = Seq("kind"),
    maxIter = 5, numTrees = 5)

  test("M1-M7 GBT pipeline fits, scores, and keeps unseen categories (handleInvalid=keep)") {
    val model = Pipelines.regression(frame, cfg).fit(frame)
    val scored = model.transform(frame)
    assert(scored.columns.contains("prediction"))
    // unseen category at scoring time must not fail
    val unseen = Seq((3.0, "zz", 0.0)).toDF("hour", "kind", "y")
    assert(model.transform(unseen).count() == 1)
  }

  test("M5 RandomForest variant trains") {
    val model = Pipelines.regression(frame, cfg.copy(algo = "rf")).fit(frame)
    assert(model.transform(frame).count() == 200)
  }

  test("M8 evaluate returns finite rmse/mae/r2 and learns the linear signal") {
    val model = Pipelines.regression(frame, cfg).fit(frame)
    val m = Pipelines.evaluate(model.transform(frame), "y")
    assert(m.rmse >= 0 && !m.rmse.isNaN)
    assert(m.r2 > 0.8) // y is a clean function of the features
  }

  test("M9 save/load round trip preserves predictions") {
    val model = Pipelines.regression(frame, cfg).fit(frame)
    val path = Files.createTempDirectory("model").toString + "/m"
    Pipelines.save(model, path)
    val back = Pipelines.load(path)
    val a = model.transform(frame).agg(sum("prediction")).head.getDouble(0)
    val b = back.transform(frame).agg(sum("prediction")).head.getDouble(0)
    assert(a == b)
  }

  test("M6 column-presence filtering drops absent feature columns") {
    val noCat = frame.drop("kind")
    val model = Pipelines.regression(noCat, cfg).fit(noCat)
    assert(model.transform(noCat).count() == 200)
  }

  // ---- M9: the driver-side load against Spark's own PipelineModel.load ----

  private def zoned = (1 to 300).map { i =>
    val cat = if (i % 3 == 0) "a" else "b"
    (i.toDouble % 24, cat, s"z${i % 7}", (i % 24) * 2.0 + (if (cat == "a") 5.0 else 0.0) + i % 7)
  }.toDF("hour", "kind", "zone", "y")

  /** Training rows plus rows with categories the indexers never saw. */
  private def scoring = zoned.union(Seq((3.0, "zz", "z9", 0.0), (7.0, "a", "new", 1.0)).toDF("hour", "kind", "zone", "y"))

  private val zonedCfg = RegressionConfig(
    label = "y", numericCols = Seq("hour"), categoricalCols = Seq("kind", "zone"),
    maxIter = 4, numTrees = 4, rfMaxDepth = 4)

  private def saved(model: PipelineModel): String = {
    val path = Files.createTempDirectory("model").toString + "/m"
    Pipelines.save(model, path)
    path
  }

  /** Every param, its set value and its default, JSON-encoded. */
  private def paramJson(s: Params): Seq[(String, Option[String], Option[String])] = s.params.toSeq.map { p =>
    val q = p.asInstanceOf[Param[Any]]
    (p.name, s.get(q).map(q.jsonEncode), s.getDefault(q).map(q.jsonEncode))
  }

  /** What two loads of one stage must agree on: class, uid, params, and
    * the fitted state of the five classes `Pipelines.regression` emits. */
  private def summary(s: Transformer): Seq[Any] = {
    def forest(debug: String, weights: Array[Double], trees: Array[_ <: Params]) =
      Seq(debug, weights.toSeq, trees.toSeq.map(t => (t.uid, paramJson(t))))
    Seq(s.getClass, s.uid, paramJson(s)) ++ (s match {
      case m: StringIndexerModel => Seq(m.labelsArray.map(_.toSeq).toSeq)
      case m: OneHotEncoderModel => Seq(m.categorySizes.toSeq)
      case m: RandomForestRegressionModel => forest(m.toDebugString, m.treeWeights, m.trees)
      case m: GBTRegressionModel => forest(m.toDebugString, m.treeWeights, m.trees)
      case _ => Nil
    })
  }

  /** Loads `path` both ways and checks that both models are the same stage
    * by stage and score alike row by row; returns the driver load and the
    * Spark jobs it ran. */
  private def loadAsSpark(path: String, df: DataFrame = scoring): (PipelineModel, Int) = {
    val (driver, events) = SparkEvents.record(spark)(Pipelines.load(path))
    val reference = PipelineModel.load(path)
    assert(driver.uid == reference.uid)
    assert(driver.stages.length == reference.stages.length)
    assert(driver.stages.map(summary).toSeq == reference.stages.map(summary).toSeq)
    assert(driver.transform(df).collect().toSeq == reference.transform(df).collect().toSeq)
    (driver, events.jobs)
  }

  test("M9 the driver load equals PipelineModel.load for RF and GBT pipelines, unseen categories included") {
    Seq("rf" -> classOf[RandomForestRegressionModel], "gbt" -> classOf[GBTRegressionModel]).foreach { case (algo, cls) =>
      val model = Pipelines.regression(zoned, zonedCfg.copy(algo = algo)).fit(zoned)
      val (back, jobs) = loadAsSpark(saved(model))
      assert(jobs == 0, "the driver load ran Spark jobs")
      assert(back.stages.last.getClass == cls)
      assert(back.transform(scoring).collect().toSeq == model.transform(scoring).collect().toSeq)
    }
  }

  test("M9 the driver load reads forest node data split across part files in name order") {
    val model = Pipelines.regression(zoned, zonedCfg.copy(algo = "rf")).fit(zoned)
    val path = saved(model)
    val forest = new java.io.File(s"$path/stages").listFiles().filter(_.getName.startsWith("5_")).head
    val data = s"${forest.getPath}/data"
    val moved = Files.createTempDirectory("forest-data").toString + "/data"
    spark.read.parquet(data).repartition(2).write.parquet(moved)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(data))
    org.apache.commons.io.FileUtils.moveDirectory(new java.io.File(moved), new java.io.File(data))
    assert(new java.io.File(data).listFiles().count(_.getName.endsWith(".parquet")) >= 2)
    assert(loadAsSpark(path)._2 == 0)
  }

  test("M9 a stage outside the five, or saved by Spark 2, loads through Spark's reader") {
    val indexers = Pipelines.regression(zoned, zonedCfg).getStages.take(2) // the two StringIndexers
    val bucketizer = new Bucketizer().setInputCol("hour").setOutputCol("hour_bin")
      .setSplits(Array(Double.NegativeInfinity, 6, 12, 18, Double.PositiveInfinity))
    val assembler = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("hour_bin", "kind_idx", "zone_idx")).setOutputCol("raw").setHandleInvalid("keep")
    val scaler = new StandardScaler().setInputCol("raw").setOutputCol("features")
    val rf = new org.apache.spark.ml.regression.RandomForestRegressor()
      .setLabelCol("y").setNumTrees(3).setMaxDepth(3).setSeed(42)
    val model = new Pipeline().setStages(indexers ++ Array(bucketizer, assembler, scaler, rf)).fit(zoned)
    // Bucketizer and StandardScalerModel are read by Spark's reader, jobs and all
    assert(loadAsSpark(saved(model), zoned)._2 > 0)

    // a regression pipeline (read with no job) whose VectorAssembler is
    // recorded as saved by Spark 2.4: Spark's reader loads that stage,
    // which reads its metadata through Spark jobs
    val path = saved(Pipelines.regression(zoned, zonedCfg).fit(zoned))
    val stage = new java.io.File(s"$path/stages").listFiles().filter(_.getName.startsWith("4_vecAssembler")).head
    val meta = new java.io.File(s"${stage.getPath}/metadata").listFiles().filter(_.getName.startsWith("part-")).head
    val json = new String(Files.readAllBytes(meta.toPath), "UTF-8")
    Files.write(meta.toPath, json.replaceFirst("\"sparkVersion\":\"[^\"]*\"", "\"sparkVersion\":\"2.4.8\"").getBytes("UTF-8"))
    new java.io.File(meta.getParent, s".${meta.getName}.crc").delete()
    assert(loadAsSpark(path)._2 > 0, "the Spark 2 stage did not go through Spark's reader")
  }

  test("M9 a missing or truncated model fails to load") {
    intercept[Exception](Pipelines.load(Files.createTempDirectory("model").toString + "/missing"))
    val model = Pipelines.regression(zoned, zonedCfg.copy(algo = "rf")).fit(zoned)
    Seq("5_rfr" -> "data", "5_rfr" -> "treesMetadata", "0_strIdx" -> "metadata").foreach { case (stage, dir) =>
      val path = saved(model)
      val stageDir = new java.io.File(s"$path/stages").listFiles().filter(_.getName.startsWith(stage)).head
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stageDir, dir))
      intercept[Exception](Pipelines.load(path))
    }
  }

  // ---- scoring: the tree kernel against the model's own transform ----

  /** TLC-shaped trips over `n` ids in 3 partitions: the scoring job's six
    * numerics and five categoricals (`Jobs.train`), and a duration label
    * they explain. */
  private def trips(n: Long) = {
    def h(salt: Int, m: Int) = pmod(hash(col("id"), lit(salt)), lit(m))
    spark.range(0, n, 1, 3)
      .withColumn("trip_distance", h(1, 300) / 10.0)
      .withColumn("fare_amount", h(2, 500) / 7.0)
      .withColumn("passenger_count", h(3, 5).cast("double"))
      .withColumn("pickup_hour", h(4, 24).cast("double"))
      .withColumn("pickup_dow", h(5, 7).cast("double"))
      .withColumn("is_weekend", (h(5, 7) >= 5).cast("double"))
      .withColumn("payment_type", concat(lit("p"), h(6, 4)))
      .withColumn("pu_location", concat(lit("z"), h(7, 12)))
      .withColumn("do_location", concat(lit("z"), h(8, 12)))
      .withColumn("vendor_id", concat(lit("v"), h(9, 2)))
      .withColumn("ratecode_id", concat(lit("r"), h(10, 3)))
      .withColumn("trip_duration_min", col("trip_distance") * 3 + col("pickup_hour") / 4 +
        when(col("payment_type") === "p1", 6.0).otherwise(0.0) +
        when(col("pu_location").isin("z3", "z7", "z9"), 9.0).otherwise(0.0))
  }

  private val tripsCfg = RegressionConfig(label = "trip_duration_min",
    numericCols = Seq("trip_distance", "fare_amount", "passenger_count", "pickup_hour", "pickup_dow", "is_weekend"),
    categoricalCols = Seq("payment_type", "pu_location", "do_location", "vendor_id", "ratecode_id"),
    maxIter = 6, gbtMaxDepth = 4, numTrees = 12, rfMaxDepth = 6)

  /** Scoring rows: the training ids, ids with categories no indexer saw,
    * and ids with a NaN numeric (the assembler keeps NaN). */
  private def tripsToScore = trips(1600)
    .withColumn("pu_location", when(col("id") % 50 === 7, lit("unseen")).otherwise(col("pu_location")))
    .withColumn("vendor_id", when(col("id") % 70 === 3, lit("v9")).otherwise(col("vendor_id")))
    .withColumn("fare_amount", when(col("id") % 40 === 11, lit(Double.NaN)).otherwise(col("fare_amount")))

  /** Names of the classes whose functions a frame's UDFs run. */
  private def udfOwners(df: DataFrame): Seq[String] = df.queryExecution.analyzed.flatMap(_.expressions)
    .flatMap(_.collect { case u: ScalaUDF => u.function.getClass.getName })

  private def scoredByKernel(df: DataFrame): Boolean = udfOwners(df).exists(_.contains("GraftTreeKernel"))

  /** `kernel` and `reference` have equal schemas, metadata included, and
    * equal predictions on every row, compared by raw bits; `kernel`
    * collects in at least two tasks. */
  private def sameScores(kernel: DataFrame, reference: DataFrame, key: String = "id"): Unit = {
    assert(kernel.schema == reference.schema)
    assert(kernel.schema("prediction").metadata == reference.schema("prediction").metadata)
    def bits(df: DataFrame) = df.select(col(key), col("prediction")).collect()
      .map(r => r.get(0).toString -> java.lang.Double.doubleToRawLongBits(r.getDouble(1))).sortBy(_._1).toSeq
    val (got, events) = SparkEvents.record(spark)(bits(kernel))
    assert(events.stages.map(_.numTasks).sum >= 2, "the kernel ran in fewer than two tasks")
    val want = bits(reference)
    assert(got.nonEmpty && got.length == want.length)
    val diff = got.zip(want).filter { case (a, b) => a != b }
    assert(diff.isEmpty, s"${diff.length} of ${got.length} predictions differ, first ${diff.take(3)}")
  }

  test("kernel: RF and GBT fitted on TLC-shaped trips score bit-identically, unseen categories and NaN included") {
    val train = trips(1200)
    Seq("rf" -> classOf[RandomForestRegressionModel], "gbt" -> classOf[GBTRegressionModel]).foreach { case (algo, cls) =>
      val model = Pipelines.regression(train, tripsCfg.copy(algo = algo)).fit(train)
      assert(model.stages.last.getClass == cls)
      // the one-hot features are categorical to the trees
      assert(GraftTreeFixtures.splits(model.stages.last).exists(_.isInstanceOf[CategoricalSplit]),
        s"$algo: no categorical split")
      val scored = Pipelines.transform(model, tripsToScore)
      assert(scoredByKernel(scored) && !scoredByKernel(model.transform(tripsToScore)))
      sameScores(scored, model.transform(tripsToScore))
      // the load on the driver scores alike
      sameScores(Pipelines.transform(Pipelines.load(saved(model)), tripsToScore), model.transform(tripsToScore))
    }
  }

  test("kernel: dense and sparse feature vectors score as the model's transform scores them") {
    val train = trips(1200)
    val model = Pipelines.regression(train, tripsCfg.copy(algo = "rf")).fit(train)
    val gbt = Pipelines.regression(train, tripsCfg).fit(train)
    val features = GraftTreeFixtures.pipeline("features", model.stages.init).transform(tripsToScore)
      .select(col("id"), col("features"))
    val dense = udf((v: Vector) => v.toDense)
    val sparse = udf((v: Vector) => v.toSparse)
    Seq(dense, sparse).foreach { f =>
      val df = features.withColumn("features", f(col("features")))
      Seq(model.stages.last, gbt.stages.last).foreach(stage =>
        sameScores(GraftTreeKernel.transform(stage, df).get, stage.transform(df)))
    }
  }

  /** Rows over two features: a categorical value inside and outside
    * `[0, numCategories)`, NaN, and a numeric either side of 0.5. */
  private def handRows = {
    val rows = Seq(Vectors.dense(5.0, 0.0), Vectors.sparse(2, Array(0), Array(-1.0)), Vectors.dense(2.0, 1.0),
      Vectors.dense(0.0, 0.25), Vectors.sparse(2, Array(1), Array(0.75)), Vectors.dense(1.0, Double.NaN),
      Vectors.dense(Double.NaN, 0.5), Vectors.dense(-0.0, -0.0))
    val schema = StructType(Seq(StructField("id", LongType), StructField("features", SQLDataTypes.VectorType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }, 2), schema)
  }

  test("kernel: a hand-built forest keeps a -0.0 sum and a categorical value outside [0, numCategories) goes left") {
    // leftCategories {0, 1} of 3 is more than half: the split holds the
    // complement {2} and goes left on any value not in it, 5.0 and -1.0
    // included; both trees give -0.0 on the first two rows, whose sum
    // `reduce(+)` keeps negative (a 0.0 start would not)
    val first = categorical(0, Array(0.0, 1.0), 3, leaf(-0.0), leaf(1.0))
    val second = continuous(1, 0.5, leaf(-0.0), categorical(0, Array(2.0), 4, leaf(4.0), leaf(8.0)))
    val forest = GraftTreeFixtures.forest(2, first, second)
    val reference = forest.transform(handRows)
    val predicted = reference.select("id", "prediction").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // a forest built by hand keeps the default numTrees (20) as its divisor
    assert(forest.getNumTrees == 20)
    assert(java.lang.Double.doubleToRawLongBits(predicted(0L)) == java.lang.Double.doubleToRawLongBits(-0.0))
    assert(predicted(1L).equals(-0.0))
    sameScores(GraftTreeKernel.transform(forest, handRows).get, reference)
    val boosted = GraftTreeFixtures.boosted(2, Array(1.0, 0.1), first, second)
    sameScores(GraftTreeKernel.transform(boosted, handRows).get, boosted.transform(handRows))
  }

  test("kernel: another last stage, or a forest with a leaf column, runs the model's own transform") {
    val train = trips(600)
    val rf = Pipelines.regression(train, tripsCfg.copy(algo = "rf", numTrees = 3)).fit(train)
    val init = rf.stages.init
    val tree = new Pipeline().setStages(Array(new DecisionTreeRegressor()
      .setLabelCol("trip_duration_min").setMaxDepth(4))).fit(GraftTreeFixtures.pipeline("f", init).transform(train))
    val withTree = GraftTreeFixtures.pipeline("tree", init ++ tree.stages)
    def forest = rf.stages.last.asInstanceOf[RandomForestRegressionModel].copy(ParamMap.empty)
    val withLeaves = GraftTreeFixtures.pipeline("leaves", init :+ forest.setLeafCol("leaves"))
    val noPrediction = GraftTreeFixtures.pipeline("none", init :+ forest.setPredictionCol(""))
    Seq(withTree, withLeaves, noPrediction, GraftTreeFixtures.pipeline("features", init)).foreach { m =>
      val viaEntry = Pipelines.transform(m, tripsToScore)
      assert(!scoredByKernel(viaEntry), s"${m.uid}: the kernel ran")
      assert(viaEntry.schema == m.transform(tripsToScore).schema)
      assert(viaEntry.drop("features").collect().toSeq == m.transform(tripsToScore).drop("features").collect().toSeq)
    }
    assert(Pipelines.transform(withLeaves, tripsToScore).columns.contains("leaves"))
    // a stage the kernel does not score leaves the frame unevaluated
    Seq(withTree, withLeaves, noPrediction).foreach(m =>
      assert(GraftTreeKernel.transform(m.stages.last, fail(s"${m.uid}: the frame was evaluated")).isEmpty))
  }

  test("kernel: a vector shorter than the trees read fails only on the rows whose path reads past it") {
    // feature 1 is read only right of `x0 <= 0.5`
    val forest = GraftTreeFixtures.forest(2, continuous(0, 0.5, leaf(1.0), continuous(1, 0.5, leaf(2.0), leaf(3.0))))
    val schema = StructType(Seq(StructField("id", LongType), StructField("features", SQLDataTypes.VectorType)))
    def rows(vs: Vector*) = spark.createDataFrame(spark.sparkContext.parallelize(
      vs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }, 2), schema)
    val left = rows(Vectors.dense(0.0), Vectors.sparse(1, Array(0), Array(-1.0)), Vectors.dense(0.25),
      Vectors.sparse(1, Array.empty, Array.empty))
    sameScores(GraftTreeKernel.transform(forest, left).get, forest.transform(left))
    Seq(Vectors.dense(1.0), Vectors.sparse(1, Array(0), Array(2.0))).foreach { v =>
      val right = rows(Vectors.dense(0.0), v)
      intercept[Exception](forest.transform(right).collect())
      intercept[Exception](GraftTreeKernel.transform(forest, right).get.collect())
    }
  }
}
