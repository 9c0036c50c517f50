package graft

import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.jobs.Snapshots

/** Read-path cost under growing DELETION-VECTOR density: the same
  * stats-pruned scan over one table at 0% / 1% / 20% of rows deleted
  * via MOR — the empirical backing for two design claims:
  *
  *   1. the DV anti-join stays a BROADCAST hash join on the scan's own
  *      `_metadata` positions (verified per cell from the executed
  *      plan), so read cost grows with the deleted-row count, never
  *      with a shuffle of the table;
  *   2. past the `graft.dv.maxRows` valve the WRITER that grew the set
  *      pays for materialization and the read path snaps back to a
  *      bare scan (the final cell re-measures after the valve fired).
  *
  * Input: the driver-generated events table at `$SPARK_GRAFT_SF_DIR`
  * (same table the oracle registry reads), clustered by event_id so the
  * bench's range predicate genuinely stats-prunes.
  *
  * Usage: runMain graft.DvScale [outJsonlPath]
  * One JSON line per density cell:
  *   {"dv_scale_pct":..,"rows":..,"dv_rows":..,"scan_sec":..,
  *    "scan_rows":..,"broadcast":true,"files_planned":..}
  * plus a final {"dv_scale_pct":"valve",...} cell after auto-materialize.
  */
object DvScale {
  def main(args: Array[String]): Unit = {
    val out = args.headOption
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.build("graft-dvscale", Some(s"local[$cpus]"), cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val sink = out.map(p => new java.io.PrintWriter(
      new java.io.FileWriter(p, false), true))
    def emit(line: String): Unit = { println(line); sink.foreach(_.println(line)) }
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    val root = java.nio.file.Files.createTempDirectory("dvscale")
      .toFile.getAbsolutePath + "/t"
    val e = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    Snapshots.init(spark, root, e)
    Snapshots.optimizeCow(spark, root, Seq("event_id"), 16) // clustered layout
    val total = Snapshots.readVersion(spark, root).count()
    val maxId = Snapshots.readVersion(spark, root)
      .agg(max("event_id")).head().getLong(0)
    // the bench query: a ~10% range, stats-pruned to a file subset
    val lo = maxId / 2
    val hi = lo + maxId / 10

    def measure(tag: String): Unit = {
      val dvRows = Snapshots.liveDeletionVectors(spark, root) match {
        case Nil => 0L
        case dirs => spark.read.schema(Snapshots.dvSchema).parquet(
          dirs.map(d => s"$root/_dv/$d"): _*).count()
      }
      val q = spark.read.format("graft.sources.SnapshotSource").load(root)
        .where(col("event_id").between(lo, hi))
        .agg(count(lit(1)).as("n"), sum("value").as("s"))
      val (row, warmSec) = { q.collect(); time(q.collect().head) } // warm run
      val plan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val planStr = plan.toString
      val broadcast =
        if (dvRows == 0L) !planStr.contains("Join") // bare scan, no DV join
        else planStr.contains("BroadcastHashJoin")
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.flatMap {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scans(qs.plan)
          case _ => Nil
        }
      val files = scans(plan)
        .map(_.metrics.get("numFiles").map(_.value).getOrElse(-1L)).sum
      emit(f"""{"dv_scale_pct":"$tag","rows":$total,"dv_rows":$dvRows,""" +
        f""""scan_sec":$warmSec%.3f,"scan_rows":${row.getLong(0)},""" +
        f""""broadcast":$broadcast,"files_planned":$files}""")
      require(broadcast, s"DV anti-join lost its broadcast at $tag:\n$planStr")
    }

    measure("0")
    // ~1% deleted: every 100th id
    Snapshots.deleteWhereMor(spark, root, "event_id % 100 = 7")
    measure("1")
    // ~20% deleted (cumulative): ids ending 1..20 mod 100 (minus overlap)
    Snapshots.deleteWhereMor(spark, root, "event_id % 100 BETWEEN 21 AND 39")
    measure("20")
    // the valve: cap the DV set far below the live count — the NEXT MOR
    // write auto-materializes and the read path snaps back to bare scan
    Snapshots.setProperties(spark, root,
      Map(Snapshots.dvMaxRowsProp -> (total / 100).toString))
    Snapshots.deleteWhereMor(spark, root, "event_id % 100 = 40")
    require(Snapshots.liveDeletionVectors(spark, root).isEmpty,
      "the dv.maxRows valve must have materialized")
    measure("valve")
    sink.foreach(_.close())
    spark.stop()
  }
}
