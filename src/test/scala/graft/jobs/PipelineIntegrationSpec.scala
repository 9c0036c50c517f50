package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEvents, TestSpark}
import graft.core.Tables
import graft.serve.Report

/** The full reference pipeline end-to-end on synthetic data (SURVEY.md §3):
  * raw -> ETL (rename/validate/derive/outlier) -> partitioned curated
  * parquet -> 11 marts -> single-file CSV export -> report layer over the
  * exported CSV. Events stand in for trips (ts -> pickup, ts + value
  * seconds -> dropoff, value -> fare). */
class PipelineIntegrationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("raw -> curated -> marts -> export -> report chain") {
    // trips-shaped raw frame with reference source spellings
    val raw = Tables.events(spark, TestSpark.sfDir)
      .select(
        col("ts").as("tpep_pickup_datetime"),
        (col("ts") + expr("make_interval(0, 0, 0, 0, 0, 0, value)")).as("tpep_dropoff_datetime"),
        (col("value") / 10.0).as("trip_distance"),
        col("value").as("fare_amount"),
        col("user_id").as("PULocationID"),
        col("event_type").as("vendor_id")
      )

    val etlOut = Files.createTempDirectory("pipe-etl").toString
    val curated = Jobs.etl(spark, raw, etlOut, 2024, 1, removeOutliers = true)
    val curatedBack = spark.read.parquet(etlOut)
    assert(curatedBack.count() > 0)
    assert(curatedBack.columns.contains("trip_duration_min"))
    assert(new java.io.File(s"$etlOut/year=2024/month=01").isDirectory)

    val martsOut = Files.createTempDirectory("pipe-marts").toString
    val (m, events) = SparkEvents.record(spark)(Jobs.marts(spark, curatedBack, martsOut))
    assert(m.size == 11)
    // one grouping-sets pass: a fixed handful of jobs, not a few per mart,
    // and no more rows on the driver than the marts hold
    assert(events.jobs <= 6, s"${events.jobs} Spark jobs")
    assert(events.scanStages == 1, s"${events.scanStages} curated scans")
    val martRows = m.values.map(_.count()).sum
    assert(events.collectedRows > 0 && events.collectedRows <= martRows,
      s"collected ${events.collectedRows} rows for $martRows mart rows")
    assert(m("top_origen").count() == math.min(20L, curatedBack.select("pu_location").distinct().count()))

    // export the KPI mart to single-file CSV and re-read it (serve path)
    val csvOut = Files.createTempDirectory("pipe-csv").toString + "/kpis"
    Jobs.exportCsv(spark.read.parquet(s"$martsOut/kpis"), csvOut)
    val kpis = Jobs.readCsv(spark, csvOut)
    assert(kpis.head.getAs[Any]("total_viajes").toString.toLong == curatedBack.count())

    // report layer over a mart: cumulative demand over hours ends at 100%
    val perHour = spark.read.parquet(s"$martsOut/viajes_por_hora_dia")
      .groupBy("pickup_hour").agg(sum("total_viajes").as("n"))
    val cum = Report.cumulativeShare(perHour, "pickup_hour", "n")
      .orderBy(desc("pickup_hour")).head
    assert(math.abs(cum.getAs[Double]("cum_pct") - 100.0) < 1e-9)
  }

  test("curated -> train -> score -> export via the job mains (scripts 04/05/06)") {
    import graft.core.Cli
    import graft.jobs.{ExportMain, ManifestMain, MartsMain, ScoreMain, TrainMain}

    // small curated month via the real ETL (reuses the trips-shaped frame)
    val raw = Tables.events(spark, TestSpark.sfDir)
      .select(
        col("ts").as("tpep_pickup_datetime"),
        (col("ts") + expr("make_interval(0, 0, 0, 0, 0, 0, value)")).as("tpep_dropoff_datetime"),
        (col("value") / 10.0).as("trip_distance"),
        col("value").as("fare_amount"),
        col("user_id").as("PULocationID"),
        col("event_type").as("vendor_id")
      )
    val curatedRoot = Files.createTempDirectory("m-curated").toString
    Jobs.etl(spark, raw, curatedRoot, 2024, 1, removeOutliers = false, maxRows = Some(800))

    val modelRoot = Files.createTempDirectory("m-model").toString
    val metricsRoot = Files.createTempDirectory("m-metrics").toString
    val predRoot = Files.createTempDirectory("m-pred").toString + "/predictions"
    val martsRoot = Files.createTempDirectory("m-marts").toString
    val exportDir = Files.createTempDirectory("m-export").toString
    val cfg = Cli.parse(Seq(
      "--year", "2024", "--month", "1",
      "--curated-root", curatedRoot, "--out-root", martsRoot,
      "--model-root", modelRoot, "--metrics-root", metricsRoot,
      "--predictions-root", predRoot, "--marts-root", martsRoot,
      "--output-dir", exportDir,
      "--algoritmo", "rf", "--max-rows", "500",
      "--exportar-metricas", "--exportar-errores"
    ))

    TrainMain.run(spark, cfg)
    assert(new java.io.File(s"$modelRoot/year=2024/month=01").isDirectory)
    val metrics = Jobs.readJson(spark, s"$metricsRoot/year=2024/month=01")
    val mrow = metrics.head
    assert(mrow.getAs[String]("algoritmo") == "rf")
    assert(mrow.getAs[Double]("rmse") >= 0.0)
    assert(mrow.getAs[Long]("rows_train") > 0L)

    // the month's model is loaded once, on the driver, so Spark runs only
    // the curated read's schema job and the one predictions write (two
    // jobs: its row cap adds a shuffle stage)
    val (_, scoreEvents) = SparkEvents.record(spark)(ScoreMain.run(spark, cfg))
    val writes = scoreEvents.queries.collect { case ("command", qe) => qe.logical }
    assert(writes.size == 1, s"score writes: $writes")
    writes.head match {
      case w: InsertIntoHadoopFsRelationCommand => assert(w.outputPath.toString.endsWith("/predictions"))
      case w => fail(s"not a predictions write: $w")
    }
    assert(scoreEvents.jobs <= 3, s"ScoreMain ran ${scoreEvents.jobs} Spark jobs for one month")
    val pred = spark.read.parquet(predRoot)
    assert(pred.columns.contains("prediction"))
    assert(pred.count() > 0)
    // a month whose curated data exists but whose model does not: skipped
    // with --skip-missing, an error without
    val noModel = cfg.copy(modelRoot = Files.createTempDirectory("m-no-model").toString,
      predictionsRoot = Files.createTempDirectory("m-no-pred").toString + "/predictions")
    ScoreMain.run(spark, noModel.copy(skipMissing = true))
    assert(!new java.io.File(noModel.predictionsRoot).exists())
    intercept[Exception](ScoreMain.run(spark, noModel))

    MartsMain.run(spark, cfg)
    ExportMain.run(spark, cfg)
    // 11 mart CSVs + metricas_modelo + errores_por_hora, no subdir (1 month)
    ExportMain.MartTables.foreach { t =>
      assert(new java.io.File(s"$exportDir/$t").isDirectory, s"missing export $t")
    }
    val err = Jobs.readCsv(spark, s"$exportDir/errores_por_hora")
    assert(err.columns.toSet == Set("pickup_hour", "total_viajes", "mae", "rmse", "pred_promedio", "real_promedio"))
    val met = Jobs.readCsv(spark, s"$exportDir/metricas_modelo")
    assert(met.columns.contains("rmse"))

    // skip-missing: a month with no curated data must not fail any main
    val cfg2 = cfg.copy(month = Some(2), skipMissing = true)
    TrainMain.run(spark, cfg2)
    ScoreMain.run(spark, cfg2)
    ExportMain.run(spark, cfg2)
    // and without skip-missing the same month fails fast
    intercept[IllegalStateException](TrainMain.run(spark, cfg.copy(month = Some(2))))

    // S11 manifest catalog: upsert is idempotent, --force re-catalogs
    val dataDir = Files.createTempDirectory("m-manifest").toString
    spark.read.parquet(s"$curatedRoot/year=2024/month=01").limit(10)
      .coalesce(1).write.parquet(s"$dataDir/yellow_tripdata_2024-01.parquet")
    val mcfg = cfg.copy(outputDir = dataDir, manifestPath = None)
    ManifestMain.run(spark, mcfg)
    ManifestMain.run(spark, mcfg) // existing entry, no --force: kept as-is
    // the manifest is a pretty-printed JSON ARRAY (00_download_tlc.py:58),
    // so read it multiLine rather than line-delimited
    def manifest() = spark.read.option("multiLine", "true").json(s"$dataDir/manifest.json")
    assert(manifest().count() == 1)
    val entry = manifest().head
    assert(entry.getAs[String]("nombre_archivo") == "yellow_tripdata_2024-01.parquet")
    assert(entry.getAs[scala.collection.Seq[String]]("columnas").contains("trip_duration_min"))
    ManifestMain.run(spark, mcfg.copy(force = true))
    assert(manifest().count() == 1)
  }
}
