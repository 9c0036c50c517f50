package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Driver-side single-file writer for SMALL, already-driver-resident row
  * sets (bounded by the caller — the checkpoint writer's `inlineBelow`
  * threshold, a mart, a dashboard export). Uses the exact `OutputWriter`
  * Spark's own write tasks use for `format`: `prepareWrite` stamps every
  * conf the format's writer needs onto the job (for parquet: schema,
  * legacy format, timestamp type, rebase modes, field ids; for CSV: the
  * `CSVOptions` built from `options` and the session time zone), so
  * nothing is hand-guessed and the produced file is byte-compatible with
  * a 1-task Spark write — minus the job: no scheduler round-trip, no task
  * launch, no commit protocol. Same extension-shim pattern as
  * `GraftSqlShim`. */
object GraftDriverWriter {

  /** Write `rows` (InternalRows in `schema`'s layout) as ONE file of
    * `format`, written with the data source `options`, into `dir` (the
    * caller owns directory naming and the publish rename). Returns the
    * written file's extension-complete path. */
  def writeFile(
      spark: SparkSession, format: FileFormat, options: Map[String, String], schema: StructType,
      rows: Iterator[InternalRow], dir: String, baseName: String): String = {
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = Job.getInstance(ss.sessionState.newHadoopConf())
    val factory = format.prepareWrite(ss, job, options, schema)
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-driver-write", 0), TaskType.MAP, 0), 0)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, attempt)
    val path = s"$dir/$baseName${factory.getFileExtension(ctx)}"
    val w = factory.newInstance(path, schema, ctx)
    try rows.foreach(w.write)
    finally w.close()
    path
  }
}
