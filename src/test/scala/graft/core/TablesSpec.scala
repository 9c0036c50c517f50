package graft.core

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEvents, TestSpark}

/** Pins the engine's timestamp-read contract after the 2026-08-13 testdata
  * regen: the parquet files store `timestamp[us]` isAdjustedToUTC=false,
  * which stock Spark 4 infers as TIMESTAMP_NTZ. The engine reads them as
  * the legacy LTZ TimestampType (Tables.ensureTimestampCompat) so
  * `unix_micros`, watermarks, and every downstream LTZ contract hold —
  * exact under the pinned UTC session timezone. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("testdata timestamp columns read as LTZ TimestampType, not NTZ") {
    val e = Tables.events(spark, TestSpark.sfDir)
    assert(e.schema("ts").dataType == TimestampType,
      s"events.ts must read as TimestampType, got ${e.schema("ts").dataType}")
    val o = Tables.orders(spark, TestSpark.sfDir)
    assert(o.schema("o_orderdate").dataType == TimestampType)
    val li = Tables.lineitem(spark, TestSpark.sfDir)
    assert(li.schema("l_shipdate").dataType == TimestampType)
  }

  test("unix_micros works on the read ts and spans a sane event-time range") {
    val bounds = Tables.events(spark, TestSpark.sfDir)
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    assert(lo < hi, "event time must span a range")
    // events are synthetic 2020s-era data: both bounds in (2000, 2100)
    val y2000 = 946684800000000L
    val y2100 = 4102444800000000L
    assert(lo > y2000 && hi < y2100, s"epoch-micros bounds out of range: $lo..$hi")
  }

  test("the compat conf survives: a raw read in the same session agrees with Tables") {
    Tables.ensureTimestampCompat(spark)
    val raw = spark.read.parquet(s"${TestSpark.sfDir}/events.parquet")
    assert(raw.schema("ts").dataType == TimestampType)
    assert(raw.schema("ts").dataType != TimestampNTZType)
  }

  test("the schema memo re-infers a file rewritten with a new schema and the same mtime") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables-memo")
    val target = dir.resolve("t.parquet")
    // one parquet FILE at <dir>/t.parquet, the testdata layout
    def writeFile(df: org.apache.spark.sql.DataFrame): Unit = {
      val staged = dir.resolve(s"staged-${System.nanoTime()}").toString
      df.coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeFile(Seq(1L, 2L).toDF("a"))
    val mtime = target.toFile.lastModified()
    assert(Tables.read(spark, dir.toString, "t").schema.fieldNames.toSeq == Seq("a"))
    writeFile(Seq((1L, "x"), (2L, "y")).toDF("a", "b"))
    assert(target.toFile.setLastModified(mtime))
    val again = Tables.read(spark, dir.toString, "t")
    assert(again.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(again.orderBy("a").as[(Long, String)].collect().toSeq == Seq((1L, "x"), (2L, "y")))
  }

  test("readOptional and a memo miss take the schema from the footer: no Spark job, Spark's schema") {
    import spark.implicits._
    Tables.ensureTimestampCompat(spark)
    val tables = Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region",
      "events", "documents", "embeddings")
    tables.foreach { t =>
      val path = s"${TestSpark.sfDir}/$t.parquet"
      val (df, events) = SparkEvents.record(spark)(Tables.readOptional(spark, path).get)
      assert(events.jobs == 0, s"$t: ${events.jobs} Spark jobs")
      assert(df.schema == spark.read.parquet(path).schema, t)
    }
    // an INT64 TIMESTAMP(NANOS) column, which Spark reads only as raw
    // nanos (the legacy conf `ensureTimestampCompat` sets): the footer's
    // schema says so too
    val nanos = java.nio.file.Files.createTempDirectory("tables-nanos").resolve("e.parquet").toString
    val nanosSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message e { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(nanos)).withType(nanosSchema).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(nanosSchema)
      .newGroup().append("id", 1L).append("ts", 1700000000123456789L))
    finally writer.close()
    val (n, nanosEvents) = SparkEvents.record(spark)(Tables.readOptional(spark, nanos).get)
    assert(nanosEvents.jobs == 0)
    assert(n.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(n.schema == spark.read.parquet(nanos).schema)
    assert(n.as[(Long, Long)].collect().toSeq == Seq((1L, 1700000000123456789L)))
    // a memo miss: a file the memo has not seen
    val dir = java.nio.file.Files.createTempDirectory("tables-miss")
    val staged = dir.resolve("staged").toString
    Seq((1L, "x")).toDF("a", "b").coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, dir.resolve("t.parquet"))
    val (t, missEvents) = SparkEvents.record(spark)(Tables.read(spark, dir.toString, "t"))
    assert(missEvents.jobs == 0, s"${missEvents.jobs} Spark jobs")
    assert(t.as[(Long, String)].collect().toSeq == Seq((1L, "x")))
    // a directory of part files (a curated month) reads its first footer;
    // one of partition subdirectories keeps Spark's partition inference
    val flat = dir.resolve("flat").toString
    Seq((1L, 2.5), (2L, 3.5)).toDF("a", "b").repartition(2).write.parquet(flat)
    val (f, flatEvents) = SparkEvents.record(spark)(Tables.readOptional(spark, flat).get)
    assert(flatEvents.jobs == 0 && f.schema == spark.read.parquet(flat).schema && f.count() == 2)
    val parted = dir.resolve("parted").toString
    Seq((1, "a"), (2, "b")).toDF("v", "p").write.partitionBy("p").parquet(parted)
    val p = Tables.readOptional(spark, parted).get
    assert(p.schema == spark.read.parquet(parted).schema && p.columns.contains("p"))
    assert(Tables.readOptional(spark, dir.resolve("missing").toString).isEmpty)
  }
}
