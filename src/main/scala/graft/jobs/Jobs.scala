package graft.jobs

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Clean, Features, Outliers}
import graft.marts.Marts

/** The reference's job layer (SURVEY.md §3): ETL -> curated partitioned
  * parquet; marts -> per-mart parquet; export -> single-file CSV/JSON.
  * Sinks S3-S7.
  *
  * Scale notes:
  *   - partitioned writes use dynamic partition overwrite (set in
  *     graft.core.Sessions) so month re-runs are idempotent without
  *     clobbering sibling partitions (`/root/reference/scripts/02_spark_etl.py:65`);
  *   - the ETL caches the pre-outlier frame once: the outlier sketches and
  *     the curated write all read that cache, so raw is scanned once;
  *   - all 11 marts come from one grouping-sets query over the curated
  *     frame (`Marts.evaluateAll`): one scan for all marts and one shuffle
  *     per aggregate (two: the percentile sets apart), where the reference
  *     re-scans parquet 11 times (`03_spark_eda_agg.py:220-240`), which at
  *     100 TB is 11 full-table scans. Only the marts' own rows reach the
  *     driver (the top-k cut runs in the plan), so driver memory is
  *     O(mart output), and each mart is written there as one parquet file;
  *   - `coalesce(1)` single-file sinks are presentation-layer only (small
  *     mart outputs), never applied to data-scale frames.
  */
object Jobs {

  /** S3 + the ETL chain of SURVEY.md §3.1: standardize, validate, default,
    * project, filter, derive, outlier-filter, partition, write. */
  def etl(
      spark: SparkSession,
      raw: DataFrame,
      out: String,
      year: Int,
      month: Int,
      requiredCols: Seq[String] = Seq("pickup_datetime", "dropoff_datetime", "trip_distance", "fare_amount"),
      removeOutliers: Boolean = true,
      pLow: Double = 0.01,
      pHigh: Double = 0.99,
      sampleFrac: Option[Double] = None,
      maxRows: Option[Int] = None
  ): DataFrame = {
    val std = Clean.standardizeColumns(raw)
    Clean.requireColumns(std, requiredCols)
    val defaulted = Clean.ensureColumns(std, Clean.TlcDefaults)
    val projected = Clean.selectPresent(defaulted, Seq(
      "pickup_datetime", "dropoff_datetime", "trip_distance", "fare_amount",
      "total_amount", "passenger_count", "payment_type", "pu_location",
      "do_location", "vendor_id", "ratecode_id"))
    val valid = Clean.filterValid(projected,
      positiveCols = Seq("trip_distance", "fare_amount"),
      nonNullCols = Seq("pickup_datetime", "dropoff_datetime"))
    val durated = Features.withDurationMin(valid, "pickup_datetime", "dropoff_datetime")
      .filter(col("trip_duration_min") > 0)
    val featured = Features.withTemporal(durated, "pickup_datetime", "pickup")
    // sample/limit AFTER validity + duration filtering, BEFORE outliers —
    // the reference's exact order (`scripts/02_spark_etl.py:120-133`), so
    // --max-rows N yields N cleaned rows and the outlier band is computed
    // on the sampled population.
    val sampled = sampleFrac.filter(f => f > 0 && f < 1)
      .fold(featured)(f => featured.sample(withReplacement = false, f, 42L))
    val capped = maxRows.filter(_ > 0).fold(sampled)(sampled.limit)
    // the outlier sketches and the curated write all read one cache of
    // the pre-outlier frame, so the raw input is scanned once
    val cached = if (removeOutliers) Some(capped.cache()) else None
    try {
      val cleaned = cached.fold(capped)(c =>
        Outliers.sequential(c, Seq("trip_distance", "fare_amount", "trip_duration_min"), pLow, pHigh))
      val curated = Features.withPartitions(cleaned, year, month)
      curated.write.mode(SaveMode.Overwrite).partitionBy("year", "month").parquet(out)
      curated
    } finally cached.foreach(_.unpersist(blocking = false))
  }

  /** S4/S7 + §3.2: the 11 marts from one grouping-sets pass over the
    * curated frame, each written as one parquet file under `outRoot`.
    * Returns the marts as local frames. */
  def marts(spark: SparkSession, curated: DataFrame, outRoot: String): Map[String, DataFrame] = {
    val marts = Marts.evaluateAll(curated, Marts.tripMarts(Marts.fareColumn(curated)))
    // each write is tens of ms of fixed cost on one driver thread, so the
    // 11 run side by side; all finish before a failure is rethrown
    val writes = marts.map(m => Future(Sinks.writeDriverParquet(spark, m.schema, m.rows, s"$outRoot/${m.name}")))
    writes.foreach(Await.ready(_, Duration.Inf))
    writes.foreach(_.value.get.get)
    marts.map(m => m.name -> spark.createDataFrame(java.util.Arrays.asList(m.rows: _*), m.schema)).toMap
  }

  /** §3.4 training job body (`/root/reference/scripts/04_train_sparkml.py:76-156`):
    * duration filter, sample/cap, column-presence filtering, 80/20 split
    * seed 42, fit, rmse/mae/r2, model save, one-row metrics JSON record.
    * Returns the metrics for the caller (logging, tests). */
  def train(
      spark: SparkSession,
      curated: DataFrame,
      algoritmo: String,
      modelOut: String,
      metricsOut: String,
      year: Int,
      month: String,
      sampleFrac: Option[Double] = None,
      maxRows: Option[Int] = None
  ): graft.ml.Pipelines.RegressionMetrics = {
    import spark.implicits._
    val numericBase = Seq("trip_distance", "fare_amount", "passenger_count",
      "pickup_hour", "pickup_dow", "is_weekend")
    val categoricalBase = Seq("payment_type", "pu_location", "do_location",
      "vendor_id", "ratecode_id")

    val filtered = curated.filter(col("trip_duration_min") > 0)
    val sampled = sampleFrac.filter(f => f > 0 && f < 1)
      .fold(filtered)(f => filtered.sample(withReplacement = false, f, 42L))
    val df = maxRows.filter(_ > 0).fold(sampled)(sampled.limit)

    val pipeline = graft.ml.Pipelines.regression(df,
      graft.ml.Pipelines.RegressionConfig(
        algo = algoritmo, label = "trip_duration_min",
        numericCols = numericBase, categoricalCols = categoricalBase))
    val Array(trainDf, testDf) = df.randomSplit(Array(0.8, 0.2), seed = 42L)
    val rowsTrain = trainDf.count()
    val rowsTest = testDf.count()
    val model = pipeline.fit(trainDf)
    val metrics = graft.ml.Pipelines.evaluate(model.transform(testDf), "trip_duration_min")
    graft.ml.Pipelines.save(model, modelOut)
    val record = Seq((year.toString, month, algoritmo,
        metrics.rmse, metrics.mae, metrics.r2, rowsTrain, rowsTest,
        java.time.Instant.now().toString))
      .toDF("year", "month", "algoritmo", "rmse", "mae", "r2",
        "rows_train", "rows_test", "fecha_entrenamiento")
    exportJson(record, metricsOut)
    metrics
  }

  /** §3.5 batch-scoring job body (`/root/reference/scripts/05_batch_scoring.py:76-106`):
    * sample/cap, model transform, ensure string year/month partition
    * columns, dynamic-overwrite partitioned parquet sink. */
  def score(
      spark: SparkSession,
      curated: DataFrame,
      modelPath: String,
      predictionsOut: String,
      year: Int,
      month: String,
      sampleFrac: Option[Double] = None,
      maxRows: Option[Int] = None
  ): DataFrame = {
    val sampled = sampleFrac.filter(f => f > 0 && f < 1)
      .fold(curated)(f => curated.sample(withReplacement = false, f, 42L))
    val df = maxRows.filter(_ > 0).fold(sampled)(sampled.limit)
    val model = graft.ml.Pipelines.load(modelPath)
    val pred0 = model.transform(df)
    val pred1 = if (pred0.columns.contains("year")) pred0
      else pred0.withColumn("year", lit(year.toString))
    val pred = if (pred1.columns.contains("month")) pred1
      else pred1.withColumn("month", lit(month))
    pred.write.mode(SaveMode.Overwrite).partitionBy("year", "month").parquet(predictionsOut)
    pred
  }

  /** §3.6 per-hour error export (`/root/reference/scripts/06_export_for_dashboard.py:155-180`):
    * None when the predictions frame lacks the required columns (the
    * reference warns and skips). */
  def errorsFromPredictions(pred: DataFrame): Option[DataFrame] = {
    val required = Set("prediction", "trip_duration_min", "pickup_hour")
    if (!required.subsetOf(pred.columns.toSet)) None
    else Some(Marts.errorsByHour(pred, "pickup_hour", "prediction", "trip_duration_min"))
  }

  /** S5: single-file CSV with header (dashboard export,
    * `/root/reference/scripts/06_export_for_dashboard.py:111-116`). */
  def exportCsv(df: DataFrame, out: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(out)

  /** S6: single-file JSON record sink
    * (`/root/reference/scripts/04_train_sparkml.py:149-151`). */
  def exportJson(df: DataFrame, out: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).json(out)

  /** S2/S12-style readers for the exported artifacts. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)
  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)
}
