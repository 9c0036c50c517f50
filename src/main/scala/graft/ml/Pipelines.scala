package graft.ml

import org.apache.spark.ml.{GraftMlShim, GraftTreeKernel, Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{OneHotEncoder, StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression.{GBTRegressor, RandomForestRegressor}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** ML pipeline factory + evaluation, mirroring the reference's training
  * stack (`/root/reference/src/ml/pipeline.py:5-47`, `src/ml/metrics.py:3-8`,
  * `scripts/04_train_sparkml.py:85-129`):
  *
  *   - M1 StringIndexer per categorical, handleInvalid="keep" (unseen
  *     categories at scoring time get the extra index rather than failing —
  *     `pipeline.py:13`);
  *   - M2 OneHotEncoder (default dropLast);
  *   - M3 VectorAssembler over numeric + one-hot columns,
  *     handleInvalid="keep" (NaN passthrough — `pipeline.py:25`);
  *   - M4 GBTRegressor maxIter=50 maxDepth=5 seed=42 (default algo) /
  *     M5 RandomForestRegressor numTrees=100 maxDepth=10 seed=42;
  *   - M8 RegressionEvaluator rmse/mae/r2;
  *   - M9 save in Spark's format, load on the driver (`load`);
  *   - scoring through `transform`: the feature stages run as Spark runs
  *     them, and a fitted forest or boosted ensemble as the last stage is
  *     scored by `GraftTreeKernel` from flat arrays, with predictions
  *     bit-identical to the model's own `transform` (continuous splits
  *     `x <= threshold`, categorical splits as `CategoricalSplit.shouldGoLeft`
  *     with primitive `==`, the forest's `reduce(+)` sum over
  *     `getNumTrees`, the boosted `BLAS.nativeBLAS.ddot` of leaves and
  *     weights) and the output column's name and metadata unchanged; a
  *     row whose path reads past the end of its features vector fails,
  *     as in the model's own `predict`, and the other rows score.
  *
  * These are the same JVM classes PySpark delegates to, so fitted models and
  * metrics reproduce the reference bit-for-bit given identical input splits.
  *
  * Scale notes: tree-ensemble fitting aggregates split statistics on the
  * driver per iteration — the known Spark ML behavior at 100 TB is to
  * sample/cap the training frame (the reference itself caps at 300k rows,
  * `BASELINE.md`), score the full data with the fitted model (embarrassingly
  * parallel `transform`), and keep `maxBins`/`maxDepth` bounded.
  */
object Pipelines {

  final case class RegressionConfig(
      algo: String = "gbt", // "gbt" | "rf" (reference --algoritmo)
      label: String,
      numericCols: Seq[String],
      categoricalCols: Seq[String],
      maxIter: Int = 50,
      gbtMaxDepth: Int = 5,
      numTrees: Int = 100,
      rfMaxDepth: Int = 10,
      seed: Long = 42L
  )

  /** M1-M6: (indexer, one-hot)* + assembler + regressor, with the
    * column-presence filtering the reference applies at
    * `scripts/04_train_sparkml.py:101-102`. */
  def regression(df: DataFrame, cfg: RegressionConfig): Pipeline = {
    val present = df.columns.toSet
    val nums = cfg.numericCols.filter(present)
    val cats = cfg.categoricalCols.filter(present)

    val indexers = cats.map { c =>
      new StringIndexer()
        .setInputCol(c)
        .setOutputCol(s"${c}_idx")
        .setHandleInvalid("keep")
    }
    val encoders = cats.map { c =>
      new OneHotEncoder().setInputCol(s"${c}_idx").setOutputCol(s"${c}_oh")
    }
    val assembler = new VectorAssembler()
      .setInputCols((nums ++ cats.map(c => s"${c}_oh")).toArray)
      .setOutputCol("features")
      .setHandleInvalid("keep")

    val model: PipelineStage = cfg.algo match {
      case "rf" =>
        new RandomForestRegressor()
          .setLabelCol(cfg.label).setFeaturesCol("features")
          .setNumTrees(cfg.numTrees).setMaxDepth(cfg.rfMaxDepth).setSeed(cfg.seed)
      case _ =>
        new GBTRegressor()
          .setLabelCol(cfg.label).setFeaturesCol("features")
          .setMaxIter(cfg.maxIter).setMaxDepth(cfg.gbtMaxDepth).setSeed(cfg.seed)
    }
    new Pipeline().setStages((indexers ++ encoders :+ assembler :+ model).toArray)
  }

  /** `model.transform(df)`, with a last stage that `GraftTreeKernel`
    * scores (a forest or boosted ensemble with no leaf column) run by the
    * kernel; any other last stage runs the model's own `transform`. */
  def transform(model: PipelineModel, df: DataFrame): DataFrame = {
    def features = {
      model.transformSchema(df.schema)
      model.stages.init.foldLeft(df)((d, s) => s.transform(d))
    }
    model.stages.lastOption.flatMap(GraftTreeKernel.transform(_, features)).getOrElse(model.transform(df))
  }

  final case class RegressionMetrics(rmse: Double, mae: Double, r2: Double)

  /** M8: rmse/mae/r2 over (label, prediction) — `src/ml/metrics.py:3-8`. */
  def evaluate(scored: DataFrame, label: String): RegressionMetrics = {
    def m(name: String): Double =
      new RegressionEvaluator()
        .setLabelCol(label).setPredictionCol("prediction").setMetricName(name)
        .evaluate(scored)
    RegressionMetrics(m("rmse"), m("mae"), m("r2"))
  }

  /** M9: overwrite-save / load round trip. The model is saved in Spark's
    * own format (`model.write`, what PySpark writes too) and loaded on the
    * driver with no Spark job (`GraftMlShim.loadPipelineModel`): the five
    * stage classes `regression` fits are rebuilt from their metadata and
    * data files; any other stage, and any stage saved by Spark < 3, is read
    * by Spark's own reader for that stage alone. */
  def save(model: PipelineModel, path: String): Unit = model.write.overwrite().save(path)
  def load(path: String): PipelineModel = GraftMlShim.loadPipelineModel(SparkSession.active, path)
}
