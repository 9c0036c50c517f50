package org.apache.spark.sql.execution.datasources.csv

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVInferSchema, CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.types.{DataType, NullType, StructType}
import org.apache.spark.util.HadoopFSUtils

/** Driver-side reader for ONE small headered CSV file: the frame
  * `spark.read.option("header", "true").option("inferSchema", "true").csv(path)`
  * returns, computed on the calling thread with no job. Each step is the
  * one Spark's line-based CSV source takes (`TextInputCSVDataSource`): the
  * lines come from `HadoopFileLinesReader`; the header is the first line
  * that is not blank, made safe by `CSVUtils.makeSafeHeader`; the column
  * types are `CSVInferSchema`'s fold over every other non-empty line that
  * is not a copy of the header; the rows are parsed by the source's own
  * `readFile` (`UnivocityParser` under a `CSVHeaderChecker`), as a scan
  * task parses them. Same extension-shim pattern as `GraftSqlShim`. */
object GraftCsvDriverReader {

  /** The frame as a local relation, or None unless `path` is one CSV data
    * file of at most `maxBytes`: the file itself, or a directory whose
    * only entry Spark would read is that file (hidden and marker files
    * such as `_SUCCESS` and `.crc` files are skipped, as Spark's file
    * listing skips them). Anything else (several files, subdirectories,
    * globs, a missing path) is left to Spark's reader. */
  def read(spark: SparkSession, path: String, maxBytes: Long): Option[DataFrame] = {
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sqlConf = ss.sessionState.conf
    val conf = ss.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file: Option[FileStatus] =
      if (path.exists("{}[]*?\\".contains(_)) || !fs.exists(root)) None
      else {
        val status = fs.getFileStatus(root)
        val listed = if (status.isFile) Seq(status) else fs.listStatus(root).toSeq
        listed.filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName)) match {
          case Seq(f) if f.isFile && f.getLen <= maxBytes => Some(f)
          case _ => None
        }
      }
    file.map { f =>
      val options = new CSVOptions(Map("header" -> "true", "inferSchema" -> "true"),
        sqlConf.csvColumnPruning, sqlConf.sessionLocalTimeZone, sqlConf.columnNameOfCorruptRecord)
      val split = PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath), 0, f.getLen,
        Array.empty[String], f.getModificationTime, f.getLen)
      val lines = {
        val reader = new HadoopFileLinesReader(split, options.lineSeparatorInRead, conf)
        try reader.map(l => new String(l.getBytes, 0, l.getLength, options.charset)).toVector
        finally reader.close()
      }
      val schema = infer(lines, options, sqlConf.caseSensitiveAnalysis)
      // the parser reuses one row per record
      val rows = TextInputCSVDataSource.readFile(conf, split, new UnivocityParser(schema, schema, options),
        new CSVHeaderChecker(schema, options, s"CSV file: ${f.getPath}", isStartOfFile = true), schema)
        .map(_.copy()).toVector
      Dataset.ofRows(ss, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
    }
  }

  /** `TextInputCSVDataSource.inferFromDataset` over one split's lines. */
  private def infer(lines: Seq[String], options: CSVOptions, caseSensitive: Boolean): StructType = {
    // the first line whose SQL `trim` (spaces only) is not empty
    val first = lines.find(_.exists(_ != ' '))
    first.map(l => new CsvParser(options.asParserSettings).parseLine(l)) match {
      case Some(tokens) if tokens != null =>
        val header = CSVUtils.makeSafeHeader(tokens, caseSensitive, options)
        val parser = new CsvParser(options.asParserSettings)
        val rest = CSVUtils.filterHeaderLine(CSVUtils.filterCommentAndEmpty(lines.iterator, options),
          first.get, options).map(parser.parseLine)
        val inference = new CSVInferSchema(options)
        def start = Array.fill[DataType](header.length)(NullType)
        // `RDD.aggregate` over the one split: fold its lines, then merge
        // the split's types into the zero value
        val types = inference.mergeRowTypes(start, rest.foldLeft(start)(inference.inferRowType))
        StructType(inference.toStructFields(types, header))
      case _ => StructType(Nil)
    }
  }
}
