package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEvents, TestSpark}

class JobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tlcFrame = Seq(
    ("2024-01-05 10:00:00", "2024-01-05 10:30:00", 2.0, 10.0),
    ("2024-01-06 11:00:00", "2024-01-06 11:10:00", 1.0, 5.0),
    ("2024-01-07 12:00:00", "2024-01-07 12:01:00", -1.0, 5.0) // invalid distance
  ).toDF("tpep_pickup_datetime", "tpep_dropoff_datetime", "trip_distance", "fare_amount")
    .withColumn("tpep_pickup_datetime", to_timestamp($"tpep_pickup_datetime"))
    .withColumn("tpep_dropoff_datetime", to_timestamp($"tpep_dropoff_datetime"))

  test("S3 etl writes year=/month= partitioned parquet and filters invalid rows") {
    val out = Files.createTempDirectory("etl").toString
    Jobs.etl(spark, tlcFrame, out, 2024, 1, removeOutliers = false)
    assert(new java.io.File(s"$out/year=2024/month=01").isDirectory)
    val back = spark.read.parquet(out)
    assert(back.count() == 2) // invalid row dropped
    assert(back.columns.contains("trip_duration_min"))
    // dynamic overwrite: re-run same month, still 2 rows (idempotent)
    Jobs.etl(spark, tlcFrame, out, 2024, 1, removeOutliers = false)
    assert(spark.read.parquet(out).count() == 2)
  }

  test("S4/S7 marts writes all 11 marts off one cached frame") {
    val outEtl = Files.createTempDirectory("etl2").toString
    val curated = Jobs.etl(spark, tlcFrame, outEtl, 2024, 1, removeOutliers = false)
    val outM = Files.createTempDirectory("marts").toString
    val m = Jobs.marts(spark, spark.read.parquet(outEtl), outM)
    assert(m.size == 11)
    assert(new java.io.File(s"$outM/kpis").isDirectory)
    val kpis = spark.read.parquet(s"$outM/kpis")
    assert(kpis.head.getAs[Long]("total_viajes") == 2L)
  }

  test("U5: --p1/--p99 and --max-rows are honored inside the ETL chain") {
    val n = 200
    val wide = spark.range(1, n + 1).selectExpr(
      "timestamp '2024-01-05 10:00:00' + make_interval(0,0,0,0,0,id,0) as tpep_pickup_datetime",
      "timestamp '2024-01-05 10:00:00' + make_interval(0,0,0,0,0,id,cast(id as int) * 60) as tpep_dropoff_datetime",
      "cast(id as double) as trip_distance",
      "cast(id as double) as fare_amount")
    // --max-rows caps CLEANED rows (post-validity, pre-outlier), so the cap
    // is exact even when raw rows get filtered (the old behavior sampled the
    // raw frame and returned fewer than N)
    val out1 = Files.createTempDirectory("etl-cap").toString
    val capped = Jobs.etl(spark, wide, out1, 2024, 1, removeOutliers = false, maxRows = Some(25))
    assert(capped.count() == 25)
    // a narrower --p1/--p99 band must reach the outlier stage
    val out2 = Files.createTempDirectory("etl-band").toString
    val defaultBand = Jobs.etl(spark, wide, out2, 2024, 1).count()
    val narrowBand = Jobs.etl(spark, wide, out2, 2024, 1, pLow = 0.25, pHigh = 0.75).count()
    assert(narrowBand < defaultBand)
    assert(narrowBand <= n / 2 + 10)
  }

  test("S3 etl with outliers scans the raw files once") {
    val raw = Files.createTempDirectory("etl-raw").toString + "/raw"
    spark.range(1, 2001).selectExpr(
      "timestamp '2024-01-05 10:00:00' + make_interval(0,0,0,0,0,0,id) as tpep_pickup_datetime",
      "timestamp '2024-01-05 10:00:00' + make_interval(0,0,0,0,0,id % 90 + 1,id) as tpep_dropoff_datetime",
      "cast(id % 300 as double) / 10 + 0.1 as trip_distance",
      "cast(id % 700 as double) / 10 + 1.0 as fare_amount").write.parquet(raw)
    val out = Files.createTempDirectory("etl-once").toString
    val (curated, events) = SparkEvents.record(spark)(Jobs.etl(spark, spark.read.parquet(raw), out, 2024, 1))
    assert(events.scanStages == 1, s"${events.scanStages} raw scan stages")
    // the write read the cache; re-derived from raw, the frame is the same
    assert(spark.read.parquet(out).count() == curated.count())
  }

  test("S5 exportCsv writes a single part file with header") {
    val out = Files.createTempDirectory("csv").toString + "/kpis"
    Jobs.exportCsv(Seq((1L, 2.5)).toDF("total_viajes", "tarifa_promedio"), out)
    val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 1)
    val lines = scala.io.Source.fromFile(parts.head).getLines().toSeq
    assert(lines.head == "total_viajes,tarifa_promedio")
  }

  test("S6 exportJson + readJson round trip") {
    val out = Files.createTempDirectory("json").toString + "/metrics"
    Jobs.exportJson(Seq(("gbt", 1.5)).toDF("algoritmo", "rmse"), out)
    val back = Jobs.readJson(spark, out)
    assert(back.head.getAs[String]("algoritmo") == "gbt")
  }
}
