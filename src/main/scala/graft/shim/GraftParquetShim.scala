package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.input.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter.{NO_FILTER, SKIP_ROW_GROUPS}
import org.apache.parquet.hadoop.{Footer, ParquetRecordReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, RecordReaderIterator}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Driver-side parquet reader for SMALL files, the counterpart of
  * `GraftDriverWriter`: the schema comes from the footer as
  * Spark's schema inference reads it (`ParquetFileFormat.readSchemaFromFooter`),
  * and every row is decoded by the record reader Spark's own row-based
  * scan uses (`ParquetReadSupport` over parquet-mr's `ParquetRecordReader`),
  * with the hadoop conf keys, rebase modes and INT96 zone a scan task
  * would get. No job, no task and no broadcast: the whole read runs on
  * the calling thread and holds every row in driver memory, so callers
  * bound the size. */
object GraftParquetDriverReader {

  /** The schema and rows of the parquet data at `path`: one file, or every
    * data file of a directory (names not starting with `_` or `.`) in name
    * order, all read with the first file's schema. A missing path, or a
    * directory without a data file, throws. */
  def read(spark: SparkSession, path: String): (StructType, IndexedSeq[InternalRow]) = {
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sqlConf = ss.sessionState.conf
    val conf = ss.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status = fs.getFileStatus(root)
    val files = if (status.isFile) Seq(status) else dataFiles(fs.listStatus(root).toSeq)
    if (files.isEmpty) throw new FileNotFoundException(s"no parquet data file under $path")
    val footers = files.map(f =>
      f -> ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), NO_FILTER))
    val schema = footerSchema(files.head, footers.head._2, sqlConf)
    // the keys `ParquetFileFormat` sets on a scan's conf: the read support
    // rebuilds its schema converter from them
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sqlConf.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sqlConf.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    val options = new ParquetOptions(Map.empty[String, String], sqlConf)
    val rows = footers.flatMap { case (file, footer) =>
      val meta = footer.getFileMetaData
      val kv = meta.getKeyValueMetaData
      val convertTz =
        if (sqlConf.isParquetINT96TimestampConversion && !meta.getCreatedBy.startsWith("parquet-mr"))
          Some(DateTimeUtils.getZoneId(sqlConf.sessionLocalTimeZone))
        else None
      val reader = new ParquetRecordReader[InternalRow](new ParquetReadSupport(convertTz,
        enableVectorizedReader = false,
        DataSourceUtils.datetimeRebaseSpec(kv.get, options.datetimeRebaseModeInRead),
        DataSourceUtils.int96RebaseSpec(kv.get, options.int96RebaseModeInRead)))
      val it = new RecordReaderIterator(reader)
      try {
        reader.initialize(new FileSplit(file.getPath, 0, file.getLen, Array.empty[String]),
          new TaskAttemptContextImpl(conf, new TaskAttemptID(
            new TaskID(new JobID("graft-driver-pq", 0), TaskType.MAP, 0), 0)))
        // the reader reuses one mutable row per record
        it.map(_.copy()).toVector
      } finally it.close()
    }
    (schema, rows.toIndexedSeq)
  }

  /** The schema Spark's inference gives the parquet data at `path`, read
    * on the driver with no job: the footer of the file, or of a
    * directory's first data file in name order (without schema merging,
    * Spark's inference also reads one data file's footer). None where
    * Spark's own inference has to decide: a missing path, a directory
    * without a data file or with a subdirectory (partition directories),
    * and a session that merges schemas. */
  def schema(spark: SparkSession, path: String): Option[StructType] = {
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sqlConf = ss.sessionState.conf
    val conf = ss.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val first =
      if (sqlConf.isParquetSchemaMergingEnabled || !fs.exists(root)) None
      else {
        val status = fs.getFileStatus(root)
        val children = if (status.isFile) Seq(status) else fs.listStatus(root).toSeq
        if (children.exists(c => c.isDirectory && !hidden(c))) None else dataFiles(children).headOption
      }
    first.map(f => footerSchema(f,
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS), sqlConf))
  }

  private def hidden(f: FileStatus): Boolean =
    f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith(".")

  private def dataFiles(children: Seq[FileStatus]): Seq[FileStatus] =
    children.filter(f => f.isFile && !hidden(f)).sortBy(_.getPath.getName)

  // nullable throughout, as a file source reports it
  private def footerSchema(file: FileStatus, footer: ParquetMetadata, sqlConf: SQLConf): StructType =
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer), new ParquetToSparkSchemaConverter(sqlConf)).asNullable

  /** `read`, decoded into external rows (carrying the schema) by Spark's
    * interpreted Catalyst-to-Scala converters: no code generation, which
    * a cold JVM would pay per schema. */
  def readRows(spark: SparkSession, path: String): IndexedSeq[Row] = {
    val (schema, rows) = read(spark, path)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    rows.map(r => toRow(r).asInstanceOf[Row])
  }
}
