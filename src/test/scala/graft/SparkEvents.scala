package graft

import scala.collection.mutable

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** What one block of driver code asked of Spark: the jobs and stages it
  * submitted (those carrying the block's local-property tag, so other
  * threads' jobs are not mixed in) and the queries that finished while it
  * ran (query events carry no caller tag; specs run one at a time). */
final case class SparkEvents(jobs: Int, stages: Seq[StageInfo], queries: Seq[(String, QueryExecution)]) {

  /** Stages that read table files without a cache above the scan, plus one
    * per cache built over a scan (a stage reading a built cache lists the
    * scan in its lineage too, but reads no file). */
  def scanStages: Int = {
    val seen = mutable.Set.empty[Int]
    stages.map { s =>
      if (!s.rddInfos.exists(_.name == "FileScanRDD")) 0
      else {
        val cached = s.rddInfos.filter(_.storageLevel != StorageLevel.NONE).map(_.id)
        if (cached.isEmpty) 1 else cached.count(seen.add)
      }
    }.sum
  }

  /** Rows the `collect` actions returned to the driver. */
  def collectedRows: Long = queries.collect { case ("collect", qe) => SparkEvents.outputRows(qe.executedPlan) }.sum
}

object SparkEvents {
  private val Tag = "graft.test.events"

  /** Runs `f` and returns its value with the events it caused. */
  def record[T](spark: SparkSession)(f: => T): (T, SparkEvents) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    def mine(p: java.util.Properties) = p != null && p.getProperty(Tag) == tag
    var jobs = 0
    val stages = mutable.ArrayBuffer.empty[StageInfo]
    val queries = mutable.ArrayBuffer.empty[(String, QueryExecution)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (mine(e.properties)) synchronized(jobs += 1)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (mine(e.properties)) synchronized(stages += e.stageInfo)
    }
    val qel = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        synchronized(queries += funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
    val before = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    val out =
      try f
      finally {
        sc.setLocalProperty(Tag, before)
        GraftListenerBus.drain(sc)
        sc.removeSparkListener(listener)
        spark.listenerManager.unregister(qel)
      }
    (out, synchronized(SparkEvents(jobs, stages.toSeq, queries.toSeq)))
  }

  /** Rows the plan's top operator produced (the first operator down from
    * the root that counts its output rows). */
  def outputRows(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => outputRows(a.executedPlan)
    case q: QueryStageExec => outputRows(q.plan)
    case p if p.metrics.contains("numOutputRows") => p.metrics("numOutputRows").value
    case p => p.children.map(outputRows).sum
  }
}
