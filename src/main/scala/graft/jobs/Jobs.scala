package graft.jobs

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.classic.GraftSqlShim
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.{CSVFileFormat, GraftCsvDriverReader}
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetDriverReader, ParquetFileFormat}
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
  *   - the dashboard tier runs on the driver: `exportCsv` brings its
  *     input's rows to the driver and writes the one CSV file there, and
  *     `readCsv` parses one small file there into a local frame. Both are
  *     presentation-layer only (mart outputs of at most a few hundred
  *     rows), never applied to data-scale frames: an export holds its
  *     whole input in driver memory, and a read above `DriverCsvBytes`
  *     (or of several files) is Spark's distributed reader.
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
    val metrics = graft.ml.Pipelines.evaluate(graft.ml.Pipelines.transform(model, testDf), "trip_duration_min")
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
  ): DataFrame =
    score(spark, curated, graft.ml.Pipelines.load(modelPath), predictionsOut, year, month,
      sampleFrac, maxRows)

  /** `score` with the model already loaded. */
  def score(
      spark: SparkSession,
      curated: DataFrame,
      model: PipelineModel,
      predictionsOut: String,
      year: Int,
      month: String,
      sampleFrac: Option[Double],
      maxRows: Option[Int]
  ): DataFrame = {
    val sampled = sampleFrac.filter(f => f > 0 && f < 1)
      .fold(curated)(f => curated.sample(withReplacement = false, f, 42L))
    val df = maxRows.filter(_ > 0).fold(sampled)(sampled.limit)
    val pred0 = graft.ml.Pipelines.transform(model, df)
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
    * `/root/reference/scripts/06_export_for_dashboard.py:111-116`), written
    * on the driver by Spark's own CSV writer with the options a Spark write
    * uses (`header`, the session time zone), so `out` holds byte for byte
    * what `df.coalesce(1).write.option("header", "true").csv(out)` leaves:
    * one `part-00000-<uuid>-c000.csv` plus `_SUCCESS`, published by one
    * rename. A bare parquet scan of one file is read on the driver with no
    * job; any other frame is collected from one partition. Presentation-
    * layer only (scale notes above). */
  def exportCsv(df: DataFrame, out: String): Unit =
    Sinks.writeDriverFile(df.sparkSession, new CSVFileFormat(), Map("header" -> "true"),
      df.schema, driverRows(df).iterator, out)

  /** `df`'s rows on the driver, in the order a `coalesce(1)` write of `df`
    * writes them. A bare parquet scan — no operator, no partition column,
    * no option but its path — of ONE data file is read by
    * `GraftParquetDriverReader` (no job) when the footer's schema is the
    * frame's. Any other frame is gathered into one partition, as that
    * write ran it, and collected; a final global sort runs inside that
    * partition instead of behind a range exchange and its sampling job. */
  private def driverRows(df: DataFrame): Seq[InternalRow] = {
    val analyzed = df.queryExecution.analyzed
    val scanned = analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.fileFormat.getClass == classOf[ParquetFileFormat] && fs.partitionSchema.isEmpty &&
            fs.bucketSpec.isEmpty && fs.options.keySet.forall(_.equalsIgnoreCase("path")) =>
        fs.location match {
          case index: InMemoryFileIndex => index.allFiles() match {
            case Seq(file) =>
              val (schema, rows) = GraftParquetDriverReader.read(df.sparkSession, file.getPath.toString)
              Some(rows).filter(_ => schema == df.schema)
            case _ => None
          }
          case _ => None
        }
      case _ => None
    }
    scanned.getOrElse {
      val gathered = analyzed match {
        case Sort(order, true, child, hint) =>
          Sort(order, global = false, Repartition(1, shuffle = false, child), hint)
        case plan => Repartition(1, shuffle = false, plan)
      }
      val qe = GraftSqlShim.ofRows(df.sparkSession, gathered).queryExecution
      SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect().toSeq)
    }
  }

  /** S6: single-file JSON record sink
    * (`/root/reference/scripts/04_train_sparkml.py:149-151`). */
  def exportJson(df: DataFrame, out: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).json(out)

  /** Files up to this size are read by `readCsv` on the driver. A dashboard
    * export is a few KB; Spark's own inference reads a file this small as
    * one split, so one fold over its lines infers what Spark infers. */
  val DriverCsvBytes: Long = 1L << 20

  /** S2/S12-style readers for the exported artifacts. `readCsv` of one
    * headered CSV file of at most `DriverCsvBytes` (alone in its directory
    * beside hidden and marker files) parses it on the driver with Spark's
    * own schema inference and parser (`GraftCsvDriverReader`, no job): a
    * one-partition local frame with exactly the schema and rows Spark's
    * reader gives, so a report aggregate over it needs no shuffle. Any
    * other path is read by Spark. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    GraftCsvDriverReader.read(spark, path, DriverCsvBytes).fold(
      spark.read.option("header", "true").option("inferSchema", "true").csv(path))(_.coalesce(1))
  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)
}
