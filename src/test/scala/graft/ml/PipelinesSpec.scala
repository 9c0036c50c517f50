package graft.ml

import java.nio.file.Files

import org.apache.spark.ml.{Pipeline, PipelineModel, Transformer}
import org.apache.spark.ml.feature.{Bucketizer, OneHotEncoderModel, StandardScaler, StringIndexerModel}
import org.apache.spark.ml.param.{Param, Params}
import org.apache.spark.ml.regression.{GBTRegressionModel, RandomForestRegressionModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
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
}
