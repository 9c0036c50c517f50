package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.core.{Cli, Months, Sessions, Tables}

/** U6: runnable job entry points with the reference's per-month loop +
  * skip-missing semantics (`/root/reference/scripts/02_spark_etl.py:74-144`,
  * `04_train_sparkml.py:66-156`, `05_batch_scoring.py:61-106`,
  * `06_export_for_dashboard.py:85-190`).
  *
  * `spark-submit --class graft.jobs.EtlMain ... --year 2024 --quarter 1
  * --raw-root ... --curated-root ... --skip-missing`
  */
object EtlMain {
  def main(args: Array[String]): Unit = {
    val cfg = Cli.parse(args.toIndexedSeq)
    val spark = Sessions.build(cfg.appName, cfg.master, shufflePartitions = 32)
    try run(spark, cfg)
    finally spark.stop()
  }

  def run(spark: SparkSession, cfg: Cli.JobConfig): Unit =
    cfg.resolvedMonths.foreach { mm =>
      val src = cfg.uri(Months.partitionPath(cfg.rawRoot, cfg.year, mm))
      Tables.readOptional(spark, src) match {
        case None if cfg.skipMissing => () // warn logged by readOptional
        case None => throw new IllegalStateException(s"input missing: $src")
        case Some(raw) =>
          // sampling/caps/percentile band are applied INSIDE the ETL chain
          // (post-validity, pre-outliers) per the reference's CLI contract
          Jobs.etl(spark, raw, cfg.uri(cfg.curatedRoot), cfg.year, mm.toInt,
            removeOutliers = !cfg.sinOutliers,
            pLow = cfg.p1, pHigh = cfg.p99,
            sampleFrac = cfg.sampleFrac, maxRows = cfg.maxRows)
      }
    }
}

object MartsMain {
  def main(args: Array[String]): Unit = {
    val cfg = Cli.parse(args.toIndexedSeq)
    val spark = Sessions.build(cfg.appName, cfg.master, shufflePartitions = 32)
    try run(spark, cfg)
    finally spark.stop()
  }

  def run(spark: SparkSession, cfg: Cli.JobConfig): Unit =
    cfg.resolvedMonths.foreach { mm =>
      val src = cfg.uri(Months.partitionPath(cfg.curatedRoot, cfg.year, mm))
      Tables.readOptional(spark, src) match {
        case None if cfg.skipMissing => ()
        case None => throw new IllegalStateException(s"input missing: $src")
        case Some(curated) =>
          Jobs.marts(spark, curated,
            cfg.uri(Months.partitionPath(cfg.outRoot, cfg.year, mm)))
      }
    }
}

/** Training job (`scripts/04_train_sparkml.py`): per month, fit the
  * configured regressor on curated data and persist model + metrics JSON. */
object TrainMain {
  def main(args: Array[String]): Unit = {
    val cfg = Cli.parse(args.toIndexedSeq)
    val spark = Sessions.build(cfg.appName, cfg.master, shufflePartitions = 32)
    try run(spark, cfg)
    finally spark.stop()
  }

  def run(spark: SparkSession, cfg: Cli.JobConfig): Unit =
    cfg.resolvedMonths.foreach { mm =>
      val src = cfg.uri(Months.partitionPath(cfg.curatedRoot, cfg.year, mm))
      Tables.readOptional(spark, src) match {
        case None if cfg.skipMissing => ()
        case None => throw new IllegalStateException(s"input missing: $src")
        case Some(curated) =>
          Jobs.train(spark, curated, cfg.algoritmo,
            modelOut = cfg.uri(Months.partitionPath(cfg.modelRoot, cfg.year, mm)),
            metricsOut = cfg.uri(Months.partitionPath(cfg.metricsRoot, cfg.year, mm)),
            year = cfg.year, month = mm,
            sampleFrac = cfg.sampleFrac, maxRows = cfg.maxRows)
      }
    }
}

/** Batch scoring (`scripts/05_batch_scoring.py`): per month, load that
  * month's model and write predictions as dynamic-overwrite partitions.
  * skip-missing covers BOTH a missing curated month and a missing model
  * (`05_batch_scoring.py:70-92`). */
object ScoreMain {
  def main(args: Array[String]): Unit = {
    val cfg = Cli.parse(args.toIndexedSeq)
    val spark = Sessions.build(cfg.appName, cfg.master, shufflePartitions = 32)
    try run(spark, cfg)
    finally spark.stop()
  }

  def run(spark: SparkSession, cfg: Cli.JobConfig): Unit =
    cfg.resolvedMonths.foreach { mm =>
      val src = cfg.uri(Months.partitionPath(cfg.curatedRoot, cfg.year, mm))
      val modelPath = cfg.uri(Months.partitionPath(cfg.modelRoot, cfg.year, mm))
      Tables.readOptional(spark, src) match {
        case None if cfg.skipMissing => ()
        case None => throw new IllegalStateException(s"input missing: $src")
        case Some(curated) =>
          val loaded =
            try Some(graft.ml.Pipelines.load(modelPath))
            catch {
              case e: Exception if cfg.skipMissing =>
                org.slf4j.LoggerFactory.getLogger(getClass)
                  .warn(s"model missing, skipping: $modelPath (${e.getMessage})")
                None
            }
          loaded.foreach { model =>
            Jobs.score(spark, curated, model,
              predictionsOut = cfg.uri(cfg.predictionsRoot),
              year = cfg.year, month = mm,
              sampleFrac = cfg.sampleFrac, maxRows = cfg.maxRows)
          }
      }
    }
}

/** Dashboard export (`scripts/06_export_for_dashboard.py`): per month, read
  * each mart from martsRoot and write a single-file headered CSV under
  * outputDir; optional model-metrics and per-hour prediction-error exports.
  * Subdirectories `year=Y/month=M` are used when --usar-subdir is passed OR
  * more than one month is exported (`06:84`). */
object ExportMain {
  val MartTables: Seq[String] = Seq(
    "viajes_por_hora_dia", "duracion_promedio_hora", "tarifa_promedio_hora",
    "kpis", "top_origen", "top_destino", "pagos", "vendor",
    "distancia_bins", "variabilidad_hora", "variabilidad_dia")

  def main(args: Array[String]): Unit = {
    val cfg = Cli.parse(args.toIndexedSeq)
    val spark = Sessions.build(cfg.appName, cfg.master, shufflePartitions = 32)
    try run(spark, cfg)
    finally spark.stop()
  }

  def run(spark: SparkSession, cfg: Cli.JobConfig): Unit = {
    val months = cfg.resolvedMonths
    val useSubdir = cfg.usarSubdir || months.size > 1
    months.foreach { mm =>
      val srcBase = cfg.uri(Months.partitionPath(cfg.martsRoot, cfg.year, mm))
      val dstBase =
        if (useSubdir) Months.partitionPath(cfg.outputDir, cfg.year, mm)
        else cfg.outputDir

      MartTables.foreach { tabla =>
        Tables.readOptional(spark, s"$srcBase/$tabla") match {
          case None if cfg.skipMissing => ()
          case None => throw new IllegalStateException(s"mart missing: $srcBase/$tabla")
          case Some(df) => Jobs.exportCsv(df, s"$dstBase/$tabla")
        }
      }

      if (cfg.exportarMetricas) {
        val src = cfg.uri(Months.partitionPath(cfg.metricsRoot, cfg.year, mm))
        try Jobs.exportCsv(Jobs.readJson(spark, src), s"$dstBase/metricas_modelo")
        catch {
          case e: Exception if cfg.skipMissing =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"metrics missing, skipping: $src (${e.getMessage})")
        }
      }

      if (cfg.exportarErrores) {
        val src = cfg.uri(Months.partitionPath(cfg.predictionsRoot, cfg.year, mm))
        Tables.readOptional(spark, src) match {
          case None if cfg.skipMissing => ()
          case None => throw new IllegalStateException(s"predictions missing: $src")
          case Some(pred) =>
            Jobs.errorsFromPredictions(pred) match {
              case Some(err) => Jobs.exportCsv(err, s"$dstBase/errores_por_hora")
              case None =>
                org.slf4j.LoggerFactory.getLogger(getClass)
                  .warn(s"predictions at $src lack prediction/trip_duration_min/pickup_hour; skipping error export")
            }
        }
      }
    }
  }
}

/** S9 ingest (`scripts/00_download_tlc.py:95-130`): per-month HTTP download
  * of `yellow_tripdata_YYYY-MM.parquet` from --base-url into --output-dir
  * (existing files kept unless --force), then the same manifest catalog
  * pass as ManifestMain. No Spark needed for the download itself; the
  * manifest's schema introspection uses the session. */
object IngestMain {
  def main(args: Array[String]): Unit = {
    val cfg = Cli.parse(args.toIndexedSeq)
    val spark = Sessions.build(cfg.appName, cfg.master, shufflePartitions = 32)
    try run(spark, cfg)
    finally spark.stop()
  }

  def run(spark: SparkSession, cfg: Cli.JobConfig): Unit = {
    require(cfg.baseUrl.nonEmpty, "--base-url requerido")
    cfg.resolvedMonths.foreach { mm =>
      val nombre = s"yellow_tripdata_${cfg.year}-$mm.parquet"
      val dest = new java.io.File(cfg.outputDir, nombre)
      if (dest.exists() && !cfg.force)
        org.slf4j.LoggerFactory.getLogger(getClass)
          .info(s"file exists, use --force to re-download: $dest")
      else
        Ingest.httpDownload(s"${cfg.baseUrl.stripSuffix("/")}/$nombre", dest, cfg.skipMissing)
    }
    ManifestMain.run(spark, cfg.copy(skipMissing = true)) // catalog whatever landed
  }
}

/** S10 HDFS put (`scripts/01_put_to_hdfs.sh:110-121`): per-month
  * mkdir -p + put -f of the local raw file into
  * `<hdfs-raw-root>/year=YYYY/month=MM/`, skip-missing per month. Runs off
  * the session's Hadoop configuration, so --hdfs-uri / core-site both
  * work; a `file://` root exercises the identical code path in tests. */
object PutMain {
  def main(args: Array[String]): Unit = {
    val cfg = Cli.parse(args.toIndexedSeq)
    val spark = Sessions.build(cfg.appName, cfg.master, shufflePartitions = 32)
    try run(spark, cfg)
    finally spark.stop()
  }

  def run(spark: SparkSession, cfg: Cli.JobConfig): Unit = {
    val root = if (cfg.rawRoot.nonEmpty) cfg.rawRoot else "/data/tlc/raw"
    cfg.resolvedMonths.foreach { mm =>
      val local = new java.io.File(cfg.localDir, s"yellow_tripdata_${cfg.year}-$mm.parquet")
      if (!local.exists()) {
        if (cfg.skipMissing)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(s"file missing, skipping: $local")
        else throw new IllegalStateException(s"file missing: $local")
      } else {
        Ingest.hdfsPut(spark.sparkContext.hadoopConfiguration, local,
          cfg.uri(Months.partitionPath(root, cfg.year, mm)))
      }
    }
  }
}

/** S11 manifest/catalog utility (`scripts/00_download_tlc.py:45-59,95-130`):
  * catalogs per-month parquet files into a JSON manifest (name, size,
  * columns, timestamp, year, month), replacing any existing entry for the
  * same file name. The reference's HTTP download step is out of engine
  * scope (no egress here); this main catalogs files already on disk —
  * --skip-missing skips absent months, --force re-catalogs existing
  * entries, matching the reference's idempotence contract.
  */
object ManifestMain {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  def main(args: Array[String]): Unit = {
    val cfg = Cli.parse(args.toIndexedSeq)
    val spark = Sessions.build(cfg.appName, cfg.master, shufflePartitions = 32)
    try run(spark, cfg)
    finally spark.stop()
  }

  def run(spark: SparkSession, cfg: Cli.JobConfig): Unit = {
    val manifestPath = cfg.manifestPath.getOrElse(s"${cfg.outputDir}/manifest.json")
    cfg.resolvedMonths.foreach { mm =>
      val nombre = s"yellow_tripdata_${cfg.year}-$mm.parquet"
      val ruta = new java.io.File(cfg.outputDir, nombre)
      val existing = currentEntries(manifestPath)
        .exists(e => (e \ "nombre_archivo") == JString(nombre))
      if (!ruta.exists()) {
        if (cfg.skipMissing)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(s"file missing, skipping: $ruta")
        else throw new IllegalStateException(s"file missing: $ruta")
      } else if (existing && !cfg.force) {
        org.slf4j.LoggerFactory.getLogger(getClass)
          .info(s"entry exists, use --force to re-catalog: $nombre")
      } else {
        val columnas = spark.read.parquet(ruta.getPath).columns.toList
        val registro = JObject(
          "nombre_archivo" -> JString(nombre),
          "tamano_bytes" -> JLong(ruta.length()),
          "columnas" -> JArray(columnas.map(JString(_))),
          "fecha_descarga" -> JString(java.time.Instant.now().toString),
          "year" -> JString(cfg.year.toString),
          "month" -> JString(mm))
        upsert(manifestPath, nombre, registro)
      }
    }
  }

  private def currentEntries(path: String): List[JValue] = {
    val f = new java.io.File(path)
    if (!f.exists()) Nil
    else JsonMethods.parseOpt(scala.io.Source.fromFile(f, "UTF-8").mkString) match {
      case Some(JArray(items)) => items
      case _ => Nil // reference replaces an unparseable manifest
    }
  }

  /** `actualizar_manifest` (`00_download_tlc.py:45-59`): drop any entry for
    * the same file name, append the new record, write pretty JSON. */
  private def upsert(path: String, nombre: String, registro: JValue): Unit = {
    val kept = currentEntries(path).filter(e => (e \ "nombre_archivo") != JString(nombre))
    val out = JsonMethods.pretty(JsonMethods.render(JArray(kept :+ registro)))
    val w = new java.io.PrintWriter(new java.io.File(path), "UTF-8")
    try w.write(out)
    finally w.close()
  }
}
