package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetDriverReader
import org.apache.spark.sql.types.StructType

/** Readers for the driver-provided synthetic star schema
  * (`/root/repo/TESTDATA.md`). One parquet file per table under the
  * per-scale-factor dirs of /root/testdata.
  *
  * All reads are plain `spark.read.parquet` so Catalyst keeps full control of
  * column pruning and predicate pushdown (SURVEY.md section 4: prefer
  * declarative reads + predicates over hand-built partition paths).
  */
object Tables {

  /** The r8 testdata regen switched every timestamp column to plain
    * `timestamp[us]` with isAdjustedToUTC=false, which Spark 4 infers as
    * TIMESTAMP_NTZ by default — breaking `unix_micros`, watermarks and every
    * LTZ-typed downstream contract. The session timezone is pinned UTC
    * (Sessions.build), so legacy LTZ inference reads the identical instants
    * DuckDB (the oracle) sees; flipping the inference conf — rather than
    * casting per column — keeps timestamp predicates pushable to the scan
    * (a cast above the scan would block PushedFilters). */
  def ensureTimestampCompat(spark: SparkSession): Unit =
    try {
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    } catch { case _: Throwable => () }

  /** Inferred schema per (immutable) testdata file, memoized for the
    * process lifetime: parquet schema inference is a footer read (Spark
    * runs it as a job; `parquet` below reads it on the driver) that every
    * `spark.read.parquet` repeats —
    * a pure fixed cost when the same static table is read hundreds of
    * times per bench/verify run, and equally wasted work on a static
    * 100 TB table. The memo stores only the schema (metadata), never
    * rows; the first read still reads the footer under the
    * timestamp-compat confs so the cached value is exactly what inference
    * would return.
    * One entry per path, stamped with the file's (mtime, length): a
    * stamp mismatch re-infers and replaces only that path's entry. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), StructType)]()

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensureTimestampCompat(spark)
    val path = s"$dir/$name.parquet"
    // stamped with (mtime, length) so testdata regenerated IN-PROCESS
    // with a different schema re-infers instead of silently misreading
    // under the stale schema — also when the rewrite keeps the mtime
    // (coarse filesystem clocks). One getFileStatus per read — driver
    // metadata, never a job.
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val stamp = (st.getModificationTime, st.getLen)
    val (_, schema) = schemaCache.compute(path, (_, old) =>
      if (old != null && old._1 == stamp) old
      else (stamp, parquet(spark, path).schema))
    spark.read.schema(schema).parquet(path)
  }

  /** `spark.read.parquet(path)`, with the schema taken from the footer on
    * the driver (`GraftParquetDriverReader.schema`) instead of Spark's
    * inference job, under the same confs (`ensureTimestampCompat`'s
    * included). Directories of partition subdirectories, missing paths and
    * the like keep Spark's own inference, and its errors. */
  private def parquet(spark: SparkSession, path: String): DataFrame =
    GraftParquetDriverReader.schema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** S13 missing-input tolerance: the reference's skip-missing contract
    * (`/root/reference/scripts/02_spark_etl.py:80-86` — catch
    * AnalysisException, warn, continue with the next month). */
  def readOptional(spark: SparkSession, path: String): Option[DataFrame] =
    try { ensureTimestampCompat(spark); Some(parquet(spark, path)) }
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"input missing, skipping: $path (${e.getMessage})")
        None
    }

  /** `events.ts` is INT64 TIMESTAMP(NANOS), which Spark 4 refuses to read as
    * a timestamp. Read it as raw nanos (legacy conf) and convert to a proper
    * TimestampType via integral division — `DIV` keeps the arithmetic in
    * longs (a double round-trip could round across a microsecond boundary).
    */
  private def withNanosTs(spark: SparkSession, dir: String, name: String, tsCol: String): DataFrame = {
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }
    val raw = read(spark, dir, name)
    raw.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn(tsCol, org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr(s"$tsCol DIV 1000")))
      case _ => raw
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = withNanosTs(spark, dir, "events", "ts")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
