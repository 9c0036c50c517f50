package graft.jobs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.execution.datasources.{FileFormat, GraftDriverWriter}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Scale-aware write helpers — the small-files / giant-files dials for the
  * 100 TB write path.
  *
  * At cluster scale both failure modes are expensive: thousands of tiny
  * files per partition (one per reduce task) blow up the namenode and
  * planning time of every downstream reader, while single-task
  * multi-gigabyte files serialize the read side. The fix is the same dial
  * from both directions: repartition to the intended file count and cap
  * `maxRecordsPerFile` so a skewed partition splits rather than
  * concentrating.
  */
object Sinks {

  /** Write parquet with an explicit target of `filesPerPartition` files
    * per partition-column combination (or total, when unpartitioned).
    *
    * `repartition(n, cols)` hash-distributes rows of each partition value
    * over at most n tasks -> at most n files per partition dir; the
    * `maxRecordsPerFile` cap is the safety net when a partition value is
    * hot: that task's file SPLITS at the cap instead of producing one
    * giant file. */
  def writeSizedParquet(
      df: DataFrame,
      out: String,
      partitionCols: Seq[String],
      filesPerPartition: Int,
      maxRecordsPerFile: Long
  ): Unit = {
    require(filesPerPartition > 0 && maxRecordsPerFile > 0)
    val repartitioned =
      if (partitionCols.isEmpty) df.repartition(filesPerPartition)
      else df.repartition(filesPerPartition, partitionCols.map(col): _*)
    val writer = repartitioned.write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partitionCols.isEmpty) writer else writer.partitionBy(partitionCols: _*))
      .parquet(out)
  }

  /** Compact an existing parquet dataset to `targetFiles` files (the
    * maintenance job for an append-heavy table: read, re-cluster, rewrite).
    * Sort-within-partitions by `clusterBy` when given, so min/max row-group
    * stats stay selective for data-skipping readers. */
  def compactParquet(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      out: String,
      targetFiles: Int,
      clusterBy: Seq[String] = Nil
  ): Unit = {
    val df = spark.read.parquet(path).repartition(targetFiles)
    val clustered =
      if (clusterBy.isEmpty) df else df.sortWithinPartitions(clusterBy.map(col): _*)
    clustered.write.mode(SaveMode.Overwrite).parquet(out)
  }

  /** Overwrite `out` with `rows` (already on the driver, and few — the
    * caller bounds them) as ONE parquet file written on the driver
    * (`writeDriverFile`). */
  def writeDriverParquet(spark: SparkSession, schema: StructType, rows: Seq[Row], out: String): Unit = {
    val toRow = ExpressionEncoder(RowEncoder.encoderFor(schema)).createSerializer()
    writeDriverFile(spark, new ParquetFileFormat(), Map.empty, schema, rows.iterator.map(toRow), out)
  }

  /** Overwrite `out` with `rows` (already on the driver, and few — the
    * caller bounds them) as ONE file of `format`, written on the driver by
    * Spark's own `OutputWriter` with the data source `options`: no job, no
    * task, no commit protocol. The file (`part-00000-<uuid>-c000` plus the
    * format's extension) and a `_SUCCESS` marker are written into a hidden
    * sibling directory that a rename then publishes, so `out` holds what a
    * one-task `df.write.mode(Overwrite)` leaves. */
  def writeDriverFile(spark: SparkSession, format: FileFormat, options: Map[String, String],
                      schema: StructType, rows: Iterator[InternalRow], out: String): Unit = {
    val dest = new Path(out)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dest.getParent, s"_tmp-${dest.getName}-${java.util.UUID.randomUUID}")
    fs.mkdirs(tmp)
    try {
      GraftDriverWriter.writeFile(spark, format, options, schema, rows, tmp.toString,
        s"part-00000-${java.util.UUID.randomUUID}-c000")
      fs.create(new Path(tmp, "_SUCCESS")).close()
      fs.delete(dest, true)
      if (!fs.rename(tmp, dest)) throw new java.io.IOException(s"could not publish $tmp as $dest")
    } finally fs.delete(tmp, true)
  }
}
