package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Reads counters off an executed physical plan. */
object Plans {
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case o => o.children.flatMap(scans)
  }

  /** Data files the executed query's table scans read (a deletion-vector
    * side scan of `_dv/` files is not a table scan). */
  def filesRead(df: DataFrame): Long =
    scans(df.queryExecution.executedPlan)
      .filterNot(_.relation.location.rootPaths.exists(_.toString.contains("/_dv")))
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
}
