package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State shared by one benchmark run: the session, the tracer, the
  * working directory, and the closed-loop client's op log. */
final class Run(
    val spark: SparkSession, val trace: Trace, val dir: String,
    val seed: Long, val corrupt: Boolean) {

  /** Latencies (ms) per op kind, in op order. */
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** The op kinds filed under each group. */
  val kindsOf = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Op time summed over the timed region (ms). */
  var busyMs = 0.0
  private var recording = false

  def startRecording(): Unit = recording = true

  /** Times `f` as one op of `kind` inside a span of the same name; the
    * sample is also filed under `group` when given. Outside the timed
    * region (set-up, warm-up) nothing is recorded. A `nested` sample lies
    * inside another op's time and adds nothing to the client's busy time. */
  def timed[A](kind: String, op: Long, group: String = "", nested: Boolean = false)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = trace.span(kind, op)(f)
    val ms = (System.nanoTime() - t0) / 1e6
    if (recording) {
      (Seq(kind) ++ Option(group).filter(_.nonEmpty)).foreach(k =>
        latencies.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ms)
      if (group.nonEmpty) kindsOf.getOrElseUpdate(group, mutable.LinkedHashSet.empty) += kind
      if (!nested) busyMs += ms
    }
    a
  }

  def samples(kind: String): Seq[Double] = latencies.get(kind).map(_.toSeq).getOrElse(Nil)

  /** One closed-loop operation: runs `f` (which times its own ops and
    * returns whether its outputs checked out). An exception or a failed
    * check counts the op as failed. */
  def attempt(what: String)(f: => Boolean): Unit = {
    val ok = try f catch {
      case scala.util.control.NonFatal(e) =>
        note(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"); false
    }
    if (recording) {
      attempted += 1
      if (!ok) failed += 1
    } else if (!ok) throw new IllegalStateException(s"set-up op failed: $what; ${errors.lastOption.getOrElse("")}")
  }

  def note(msg: String): Unit = if (errors.size < 20) errors += msg

  /** Fails the check with a message when `cond` is false. */
  def check(cond: Boolean, msg: => String): Boolean = {
    if (!cond) note(msg)
    cond
  }
}

/** One workload: `setup` builds fresh state from the seed (warm-up
  * included) and `step` runs the client's next operation. */
trait Workload {
  /** Set-ups per untraced run (`setup_s` is their median). */
  def setups: Int
  /** Steps in one full op cycle (what a traced run executes). */
  def cycle: Int
  def setup(): Unit
  def step(): Unit
  /** Drops the client's own state (models, expected results) at the end
    * of the timed region, so the live heap measured next is what the
    * engine and Spark retain. */
  def release(): Unit = ()
  /** Work after the timed region; returns the workload's own figures. */
  def finish(): Seq[Metric] = Nil
}

final case class Metric(name: String, value: Double, unit: String)
