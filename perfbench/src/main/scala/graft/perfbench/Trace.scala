package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.StorageLevel

/** Named spans around the benchmark's calls into each engine layer, plus
  * Spark counters attributed to those spans.
  *
  * Attribution is by a thread-local Spark property: a span sets
  * `perfbench.span` to its id, every job/stage the call submits carries
  * it, and the listener files the job's stages and tasks under that
  * span. Listener events arrive asynchronously, so counters are read
  * only after `finish` drains the bus — never inside a timed span.
  *
  * With `enabled = false` a span is a plain call: no listener, no
  * property, no clock reads beyond the caller's own. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val extra = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private var current = -1
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val listener = new Listener
  if (enabled) sc.addSparkListener(listener)

  /** Runs `f` inside a span named `name` belonging to operation `op`;
    * the span's id is the index of its record. */
  def span[A](name: String, op: Long)(f: => A): A =
    if (!enabled) f
    else {
      val id = spans.size
      val parent = current
      spans += Span(id, name, parent, op, System.nanoTime(), -1L)
      current = id
      sc.setLocalProperty(SpanProp, id.toString)
      try f
      finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        current = parent
        sc.setLocalProperty(SpanProp, if (parent < 0) null else parent.toString)
      }
    }

  /** Adds benchmark-side counts (files, bytes) to the most recent span
    * named `name`. */
  def add(name: String, key: String, v: Double): Unit =
    if (enabled) {
      val id = spans.lastIndexWhere(_.name == name)
      if (id >= 0) {
        val m = extra.getOrElseUpdate(id, mutable.Map.empty)
        m(key) = m.getOrElse(key, 0.0) + v
      }
    }

  /** Drains the listener bus and detaches the listener. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Self counters of one span (jobs/stages submitted while it was the
    * innermost open span). */
  def countersOf(id: Int): Counters = counters.getOrDefault(id, Counters.empty)
  def extraOf(id: Int): Map[String, Double] = extra.get(id).map(_.toMap).getOrElse(Map.empty)

  /** Roll-up over the spans `ids` and their descendants: summed wall ms,
    * driver-only ms, Spark counters and benchmark-side extras. */
  def rollup(ids: Seq[Int]): Rollup = {
    val children = spans.groupBy(_.parent)
    def descendants(id: Int): Seq[Int] =
      id +: children.getOrElse(id, Nil).toSeq.flatMap(s => descendants(s.id))
    var wallNs = 0L; var driverNs = 0L
    var total = Counters.empty
    val extras = mutable.Map.empty[String, Double]
    ids.foreach { id =>
      val s = spans(id)
      val all = descendants(id)
      val c = all.map(countersOf).foldLeft(Counters.empty)(_ + _)
      total = total + c
      wallNs += s.endNs - s.startNs
      // driver-only time: the span's wall minus the union of its jobs'
      // run intervals (listener clock, ms)
      val (s0, s1) = (toEpochMs(s.startNs), toEpochMs(s.endNs))
      var busy = 0L; var covered = s0
      c.jobIntervals.sortBy(_._1).foreach { case (a, b) =>
        val lo = math.max(a, covered); val hi = math.min(b, s1)
        if (hi > lo) { busy += hi - lo; covered = hi }
      }
      driverNs += math.max(0L, (s.endNs - s.startNs) - busy * 1000000L)
      all.foreach(i => extraOf(i).foreach { case (k, v) => extras(k) = extras.getOrElse(k, 0.0) + v })
    }
    Rollup(ids.size, wallNs / 1e6, driverNs / 1e6, total, extras.toMap)
  }

  /** Ids of the spans named `name` that satisfy `p`. */
  def named(name: String, p: Span => Boolean = _ => true): Seq[Int] =
    spans.iterator.filter(s => s.name == name && p(s)).map(_.id).toSeq

  // nanoTime -> epoch ms, anchored once; listener event times are epoch ms
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  private def toEpochMs(ns: Long): Long = anchorMs + (ns - anchorNs) / 1000000L

  private final class Listener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Integer]()
    private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
    private val jobSpan = new ConcurrentHashMap[Int, Integer]()
    private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
    private val seenCaches = mutable.Set.empty[Int]

    private def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(q => Option(q.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
    private def bump(id: Int)(f: Counters => Counters): Unit =
      if (id >= 0) counters.compute(id, (_, c) => f(if (c == null) Counters.empty else c))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = spanOf(e.properties)
      jobSpan.put(e.jobId, id); jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageSpan.put(s, id))
      bump(id)(c => c.copy(jobs = c.jobs + 1))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val id = Option(jobSpan.get(e.jobId)).map(_.intValue).getOrElse(-1)
      val t0 = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
      bump(id)(c => c.copy(jobIntervals = c.jobIntervals :+ (t0 -> e.time)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = spanOf(e.properties)
      if (id >= 0) stageSpan.put(e.stageInfo.stageId, id)
      // table scans: a stage reading files with no persisted RDD above the
      // scan re-reads them; one reading through a persisted RDD reads the
      // files only when that cache is built, counted once per cache
      val infos = e.stageInfo.rddInfos
      if (infos.exists(_.name == "FileScanRDD")) {
        val cached = infos.filter(_.storageLevel != StorageLevel.NONE).map(_.id)
        val scans = if (cached.isEmpty) 1 else cached.count(seenCaches.add)
        if (scans > 0) bump(id)(c => c.copy(scanStages = c.scanStages + scans))
      }
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(-1)
      val wait = Option(stageSubmit.get(e.stageId))
        .map(t => math.max(0L, e.taskInfo.launchTime - t)).getOrElse(0L)
      val m = e.taskMetrics
      val (sh, sp, out) =
        if (m == null) (0L, 0L, 0L)
        else (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled, m.outputMetrics.bytesWritten)
      bump(id)(c => c.copy(tasks = c.tasks + 1, schedWaitMs = c.schedWaitMs + wait,
        shuffleBytes = c.shuffleBytes + sh, spillBytes = c.spillBytes + sp,
        outputBytes = c.outputBytes + out))
    }
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Long, startNs: Long, endNs: Long)

  final case class Counters(
      jobs: Long, tasks: Long, schedWaitMs: Long, shuffleBytes: Long,
      spillBytes: Long, outputBytes: Long, scanStages: Long, jobIntervals: Vector[(Long, Long)]) {
    def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
      schedWaitMs + o.schedWaitMs, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
      outputBytes + o.outputBytes, scanStages + o.scanStages, jobIntervals ++ o.jobIntervals)
  }
  object Counters {
    val empty: Counters = Counters(0, 0, 0, 0, 0, 0, 0, Vector.empty)
  }

  final case class Rollup(
      calls: Int, wallMs: Double, driverMs: Double, c: Counters, extra: Map[String, Double])
}
