package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
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

    // the dashboard tier, as perfbench's `tlc_batch` runs it: every mart
    // and the per-hour errors exported to single-file CSV, each read back
    // into one report aggregate
    val exportDir = Files.createTempDirectory("pipe-csv").toString
    m.keys.toSeq.sorted.foreach { name =>
      // the mart's own schema job, and none for the export
      val (_, ev) = SparkEvents.record(spark)(
        Jobs.exportCsv(spark.read.parquet(s"$martsOut/$name"), s"$exportDir/$name"))
      assert(ev.jobs <= 1, s"export of $name ran ${ev.jobs} Spark jobs")
    }
    val predOut = Files.createTempDirectory("pipe-pred").toString + "/pred"
    curatedBack.withColumn("prediction", col("trip_duration_min") * 0.9 + 0.5)
      .write.partitionBy("year", "month").parquet(predOut)
    // the predictions' schema job and the per-hour aggregate's collect
    val (_, errEvents) = SparkEvents.record(spark)(
      Jobs.errorsFromPredictions(spark.read.parquet(predOut)).foreach(Jobs.exportCsv(_, s"$exportDir/errores_hora")))
    assert(errEvents.jobs <= 3, s"export of errores_hora ran ${errEvents.jobs} Spark jobs")
    val kpis = Jobs.readCsv(spark, s"$exportDir/kpis")
    assert(kpis.head.getAs[Any]("total_viajes").toString.toLong == curatedBack.count())

    val avgs = Seq("duracion_promedio_min" -> "duracion", "tarifa_promedio" -> "tarifa")
    // (report, the Spark jobs it may run over `Jobs.readCsv` frames, read included)
    val reports: Seq[((String => DataFrame) => DataFrame, Int)] = Seq(
      ((csv: String => DataFrame) => Report.weightedRollup(
        csv("variabilidad_hora").withColumn("franja", floor(col("pickup_hour") / 6)),
        Seq("franja"), avgs, "total_viajes"), 1),
      ((csv: String => DataFrame) => Report.weightedRollup(csv("variabilidad_dia"), Nil, avgs, "total_viajes"), 1),
      ((csv: String => DataFrame) => Report.weightedRollup(csv("distancia_bins"), Nil, avgs.take(1), "total_viajes"), 1),
      ((csv: String => DataFrame) => Report.cumulativeShare(csv("viajes_por_hora_dia"), "pickup_hour", "total_viajes"), 3),
      ((csv: String => DataFrame) => Report.cumulativeShare(csv("errores_hora"), "pickup_hour", "total_viajes"), 3),
      ((csv: String => DataFrame) => Report.argmax(csv("duracion_promedio_hora"), "pickup_hour", "duracion_promedio_min"), 1),
      ((csv: String => DataFrame) => Report.argmax(csv("tarifa_promedio_hora"), "pickup_hour", "tarifa_promedio"), 1)) ++
      Seq("pagos", "vendor", "top_origen", "top_destino", "kpis").map(t =>
        ((csv: String => DataFrame) => Report.pctOfTotal(csv(t), "total_viajes"), 2))
    reports.zipWithIndex.foreach { case ((report, pin), i) =>
      val (got, ev) = SparkEvents.record(spark)(
        report(t => Jobs.readCsv(spark, s"$exportDir/$t")).collect().toSeq)
      assert(ev.jobs <= pin, s"report $i ran ${ev.jobs} Spark jobs (pin $pin)")
      val want = report(t => spark.read.option("header", "true").option("inferSchema", "true")
        .csv(s"$exportDir/$t")).collect().toSeq
      assert(got.nonEmpty && sameRows(got, want), s"report $i:\n$got\n!=\n$want")
    }

    // report layer over a mart: cumulative demand over hours ends at 100%
    val perHour = spark.read.parquet(s"$martsOut/viajes_por_hora_dia")
      .groupBy("pickup_hour").agg(sum("total_viajes").as("n"))
    val cum = Report.cumulativeShare(perHour, "pickup_hour", "n")
      .orderBy(desc("pickup_hour")).head
    assert(math.abs(cum.getAs[Double]("cum_pct") - 100.0) < 1e-9)
  }

  /** The same rows in any order: integral and other cells exact, doubles
    * within 1e-12 relative. */
  private def sameRows(a: Seq[Row], b: Seq[Row]): Boolean = {
    def key(r: Row) = r.toSeq.filterNot(_.isInstanceOf[Double]).mkString("\u0001")
    a.size == b.size && a.sortBy(key).zip(b.sortBy(key)).forall { case (x, y) =>
      x.size == y.size && x.toSeq.zip(y.toSeq).forall {
        case (u: Double, v: Double) =>
          u == v || (u.isNaN && v.isNaN) || math.abs(u - v) <= 1e-12 * math.max(math.abs(u), math.abs(v))
        case (u, v) => u == v
      }
    }
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

    // the month's model is loaded once, on the driver, and the curated
    // month's schema comes from its footer, so Spark runs only the one
    // predictions write (two jobs: its row cap adds a shuffle stage)
    val (_, scoreEvents) = SparkEvents.record(spark)(ScoreMain.run(spark, cfg))
    val writes = scoreEvents.queries.collect { case ("command", qe) => qe.logical }
    assert(writes.size == 1, s"score writes: $writes")
    writes.head match {
      case w: InsertIntoHadoopFsRelationCommand => assert(w.outputPath.toString.endsWith("/predictions"))
      case w => fail(s"not a predictions write: $w")
    }
    assert(scoreEvents.jobs <= 2, s"ScoreMain ran ${scoreEvents.jobs} Spark jobs for one month")
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
