package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
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

  /** The one `part-*` file of an export directory. */
  private def partFile(dir: String): java.io.File = {
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 1, s"${parts.length} part files in $dir")
    parts.head
  }

  /** Exports `df` with `Jobs.exportCsv` and with a `coalesce(1)` Spark CSV
    * write, asserts the two part files hold the same bytes, and returns
    * the Spark jobs the driver export ran. */
  private def sameAsSparkWriter(df: DataFrame): Int = {
    val base = Files.createTempDirectory("csv-parity").toString
    df.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true").csv(s"$base/spark")
    val (_, events) = SparkEvents.record(spark)(Jobs.exportCsv(df, s"$base/driver"))
    val (want, got) = (partFile(s"$base/spark"), partFile(s"$base/driver"))
    val (w, g) = (Files.readAllBytes(want.toPath), Files.readAllBytes(got.toPath))
    assert(java.util.Arrays.equals(w, g),
      s"driver export differs from Spark's writer:\n--- spark\n${new String(w, "UTF-8")}--- driver\n${new String(g, "UTF-8")}")
    assert(got.getName.matches("part-00000-[0-9a-f-]{36}-c000\\.csv"), got.getName)
    assert(new java.io.File(s"$base/driver/_SUCCESS").isFile)
    // the hidden publish directory is gone
    assert(new java.io.File(base).list().sorted.toSeq == Seq("driver", "spark"))
    events.jobs
  }

  test("S5 exportCsv writes the bytes a coalesce(1) Spark CSV write leaves, for every value shape") {
    val shapes = Seq(
      // an empty frame: the header line alone
      Seq.empty[(Long, String)].toDF("total_viajes", "etiqueta"),
      // nulls, and strings a CSV writer has to quote or escape
      Seq[(Option[Int], String)]((Some(1), "a,b"), (None, "say \"hi\""), (Some(3), "two\nlines"),
        (Some(4), null), (Some(5), ""), (Some(6), " padded "), (Some(7), "back\\slash"))
        .toDF("k", "s"),
      // doubles in exponent form, NaN, infinities and negative zero
      Seq(1.0e-5, Double.NaN, -0.0, 1.0e20, Double.PositiveInfinity, Double.NegativeInfinity,
        123456789.123, Double.MinPositiveValue).toDF("d"),
      // decimals, dates and timestamps under the session time zone
      Seq(("12345.67", "2024-01-02", "2024-01-02 03:04:05.123456"),
        ("-0.01", "1900-03-01", "1970-01-01 00:00:00"), (null, null, null)).toDF("a", "d", "t")
        .select(col("a").cast("decimal(12,2)").as("a"), col("d").cast("date").as("d"),
          col("t").cast("timestamp").as("t"), col("t").cast("timestamp_ntz").as("ntz"),
          lit(true).as("flag"), col("a").cast("float").as("f")))
    shapes.foreach(df => sameAsSparkWriter(df))
  }

  test("S5 exportCsv reads a bare one-file parquet scan with no Spark job, and collects anything else") {
    val dir = Files.createTempDirectory("csv-scan").toString + "/mart"
    Seq((0, 12L, 1.0e-5, "x,y"), (1, 7L, Double.NaN, null), (2, 0L, -0.0, "q\"q"))
      .toDF("pickup_hour", "total_viajes", "d", "s")
      .withColumn("amount", (col("total_viajes") / 3).cast("decimal(10,3)"))
      .withColumn("ts", timestamp_micros(col("total_viajes") * 1000003L))
      .coalesce(1).write.parquet(dir)
    val scan = spark.read.parquet(dir)
    assert(sameAsSparkWriter(scan) == 0)
    // an aggregate input is collected: its own jobs, the same bytes
    assert(sameAsSparkWriter(scan.groupBy("pickup_hour").agg(sum("total_viajes").as("n"))) > 0)
    // a filtered scan is not bare: collected, the same bytes
    assert(sameAsSparkWriter(scan.filter(col("total_viajes") > 0)) > 0)
    // a frame ending in a global sort (the per-hour errors' shape) is
    // sorted inside its one partition: the same bytes
    assert(sameAsSparkWriter(scan.union(scan).groupBy("pickup_hour")
      .agg(sum("total_viajes").as("n"), avg("d").as("d")).orderBy(desc("n"), col("pickup_hour"))) > 0)
  }

  /** Writes `content` as the one data file of a directory shaped like a
    * Spark CSV export: the part file and `_SUCCESS`, each with the `.crc`
    * side file Hadoop's local file system writes. */
  private def csvDir(content: String): String = {
    val dir = Files.createTempDirectory("csv-read").toString
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val part = fs.create(new org.apache.hadoop.fs.Path(s"$dir/part-00000-x-c000.csv"))
    try part.write(content.getBytes("UTF-8")) finally part.close()
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")).close()
    assert(new java.io.File(s"$dir/.part-00000-x-c000.csv.crc").isFile)
    dir
  }

  /** Asserts `Jobs.readCsv` returns Spark's CSV reader's schema
    * (nullability included) and rows, and returns the jobs the read and
    * its schema ran (the rows' collect is not counted). */
  private def sameAsSparkReader(dir: String): Int = {
    val want = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    val ((got, schema), events) = SparkEvents.record(spark) {
      val df = Jobs.readCsv(spark, dir)
      (df, df.schema)
    }
    assert(schema == want.schema, s"schema ${schema.simpleString} != Spark's ${want.schema.simpleString}")
    assert(got.collect().toSeq == want.collect().toSeq)
    events.jobs
  }

  test("readCsv infers Spark's schema and parses Spark's rows on the driver, with no Spark job") {
    val files = Seq(
      "empty" -> "",
      "header only" -> "a,b\n",
      "quoted fields and nulls" -> "k,v,s\n1,,\"x, y\"\n2,3.5,\"say \"\"hi\"\"\"\n,4,\n3,\"\",null\n",
      "int overflowing to long" -> "n,m\n1,7\n2147483648,8\n-3,9\n",
      "long overflowing to decimal" -> "n\n1\n9223372036854775808\n",
      "mixed int and double" -> "x,y\n1,2.5\n2.5,3\n3,4\n",
      "exponent doubles" -> "d\n1.0E-5\nNaN\n-0.0\n1e10\nInfinity\n-Infinity\n",
      "booleans" -> "b,c\ntrue,TRUE\nfalse,1\n",
      "date-like strings" -> "d,t,u\n2024-01-02,2024-01-02T03:04:05.000Z,2024-01-02\n2024-02-30,2024-01-02 03:04:05,x\n",
      "duplicate and empty header names" -> "a,A,a,,b\n1,2,3,4,5\n",
      "a data line equal to the header" -> "a,b\na,b\n1,2\n",
      "blank lines and CRLF" -> "a,b\r\n\r\n1,x\r\n   \r\n2,y\r\n",
      "a quoted newline split over lines" -> "a,b\n1,\"two\nlines\"\n3,4\n",
      "more and fewer fields than the header" -> "a,b\n1,2,3\n4\n")
    files.foreach { case (what, content) =>
      withClue(s"$what: ")(assert(sameAsSparkReader(csvDir(content)) == 0))
    }
    // a file path, not a directory
    val dir = csvDir("n,s\n1,a\n")
    assert(sameAsSparkReader(s"$dir/part-00000-x-c000.csv") == 0)
  }

  test("readCsv leaves several files and files over DriverCsvBytes to Spark's reader") {
    val two = csvDir("n,s\n1,a\n")
    Files.write(java.nio.file.Paths.get(two, "part-00001-y-c000.csv"), "n,s\n2.5,b\n".getBytes("UTF-8"))
    assert(sameAsSparkReader(two) > 0)
    val rows = Iterator.from(0).map(i => s"$i,${i * 0.5},row-$i\n")
    val big = new StringBuilder("n,d,s\n")
    while (big.length <= Jobs.DriverCsvBytes) big ++= rows.next()
    assert(sameAsSparkReader(csvDir(big.toString)) > 0)
  }

  test("readCsv of an exported mart is a one-partition local frame") {
    val out = Files.createTempDirectory("csv-local").toString + "/kpis"
    Jobs.exportCsv(Seq((1L, 2.5), (3L, 1.0e-5)).toDF("total_viajes", "tarifa_promedio"), out)
    val df = Jobs.readCsv(spark, out)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(df.collect().toSeq == Seq(Row(1, 2.5), Row(3, 1.0e-5)))
  }

  test("S6 exportJson + readJson round trip") {
    val out = Files.createTempDirectory("json").toString + "/metrics"
    Jobs.exportJson(Seq(("gbt", 1.5)).toDF("algoritmo", "rmse"), out)
    val back = Jobs.readJson(spark, out)
    assert(back.head.getAs[String]("algoritmo") == "gbt")
  }
}
