package graft.shim

import java.io.FileNotFoundException
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.execution.datasources.GraftDriverWriter
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetDriverReader, ParquetFileFormat}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEvents, TestSpark}

/** The driver-side parquet reader against the driver-side writer and
  * against Spark's own scan. */
class DriverParquetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("rows", LongType),
    StructField("n", IntegerType),
    StructField("d", DoubleType),
    StructField("flag", BooleanType),
    StructField("amount", DecimalType(12, 2)),
    StructField("ts", TimestampType),
    StructField("day", DateType),
    StructField("bytes", BinaryType),
    StructField("lmin", MapType(StringType, LongType)),
    StructField("dmin", MapType(StringType, DoubleType)),
    StructField("smin", MapType(StringType, StringType)),
    StructField("labels", ArrayType(ArrayType(StringType))),
    StructField("node", StructType(Seq(
      StructField("id", IntegerType),
      StructField("stats", ArrayType(DoubleType)),
      StructField("split", StructType(Seq(
        StructField("feature", IntegerType),
        StructField("threshold", ArrayType(DoubleType)))))))),
    StructField("parts", ArrayType(StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))))))

  private val rows = Seq(
    Row("add", 10L, 1, 1.5, true, new java.math.BigDecimal("12345.67"),
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"), java.sql.Date.valueOf("2024-01-02"),
      Array[Byte](1, 2, 3), Map("a" -> 1L, "b" -> -2L), Map("a" -> 0.25), Map("a" -> "x", "b" -> null),
      Seq(Seq("a", "b"), Seq(), null, Seq(null, "c")),
      Row(0, Seq(1.0, 2.0), Row(3, Seq(0.5))), Seq(Row("p", 1L), null, Row(null, null))),
    Row("header", null, null, null, null, null, null, null, null, null, null, null, null, null, null),
    Row("remove", Long.MaxValue, Int.MinValue, Double.NaN, false, new java.math.BigDecimal("-0.01"),
      java.sql.Timestamp.valueOf("1970-01-01 00:00:00"), java.sql.Date.valueOf("1900-03-01"),
      Array.emptyByteArray, Map.empty[String, Long], Map("n" -> Double.NegativeInfinity),
      Map.empty[String, String], Seq(), Row(null, null, null), Seq()))

  /** `rows` written by the driver writer as two part files plus the
    * marker and hidden files a reader must skip. */
  private def written(): String = {
    val dir = Files.createTempDirectory("driver-pq").toString
    val toRow = ExpressionEncoder(RowEncoder.encoderFor(schema)).createSerializer()
    GraftDriverWriter.writeFile(spark, new ParquetFileFormat(), Map.empty, schema, rows.take(2).iterator.map(toRow), dir, "part-00000-a")
    GraftDriverWriter.writeFile(spark, new ParquetFileFormat(), Map.empty, schema, rows.drop(2).iterator.map(toRow), dir, "part-00001-b")
    Files.createFile(java.nio.file.Paths.get(dir, "_SUCCESS"))
    Files.write(java.nio.file.Paths.get(dir, ".part-00000-a.crc"), Array[Byte](0))
    dir
  }

  test("driver writer -> driver reader round-trips nested arrays, structs, maps, nulls and primitives with 0 jobs") {
    val dir = written()
    val ((readSchema, internal), events) = SparkEvents.record(spark)(GraftParquetDriverReader.read(spark, dir))
    assert(events.jobs == 0)
    // nullable throughout, as Spark's scan reports it
    assert(readSchema == StructType(schema.map(_.copy(nullable = true))))
    assert(internal.size == rows.size)
    val (back, rowEvents) = SparkEvents.record(spark)(GraftParquetDriverReader.readRows(spark, dir))
    assert(rowEvents.jobs == 0)
    // part files in name order, rows in file order
    assert(back == rows)
    assert(back.head.schema == readSchema)
    // and what Spark's own scan reads from the same files
    val scanned = spark.read.parquet(dir)
    assert(scanned.schema == readSchema)
    assert(scanned.collect().toSeq.sortBy(_.getString(0)) == back.sortBy(_.getString(0)))
  }

  test("the driver reader reads one file, and throws on a missing path or a directory without data") {
    val dir = written()
    val one = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-00001")).head
    assert(GraftParquetDriverReader.readRows(spark, one.getPath) == rows.drop(2))
    intercept[FileNotFoundException](GraftParquetDriverReader.read(spark, s"$dir/missing"))
    val empty = Files.createTempDirectory("driver-pq-empty")
    Files.createFile(empty.resolve("_SUCCESS"))
    intercept[FileNotFoundException](GraftParquetDriverReader.read(spark, empty.toString))
  }
}
