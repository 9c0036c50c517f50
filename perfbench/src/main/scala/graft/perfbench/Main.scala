package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.core.Sessions

/** Benchmark entry point (launched by `perfbench/run.py`).
  *
  * Args: `--workload <tlc_batch|table_dml|log_scale> --seed <n>
  * --seconds <s> --trace <0|1> --dir <work dir> [--trace-out <file>]
  * [--model <dir>] [--tiny] [--corrupt]`. `--model` is the scoring
  * model an untraced `tlc_batch` run uses; a traced run fits its own.
  * `--workload tlc_batch --seed <n> --dir <work dir> --fit-model <dir>`
  * only sets up and fits that model into `<dir>`.
  *
  * Set up as often as the workload asks when untraced, once when traced
  * (the last set-up is kept). Untraced (`--trace 0`): run the closed
  * loop in whole op cycles until `--seconds` have passed, so every run
  * measures the same op mix.
  * Traced (`--trace 1`): run exactly one op cycle, so its counts repeat
  * exactly for a seed.
  *
  * Prints a report (every metric by name with its unit), then one JSON
  * line: `correct`, `attempted`, `failed`, and the end-to-end metrics
  * (untraced) or the per-layer metrics (traced). `--tiny` shrinks the
  * inputs for the self-test; `--corrupt` flips one expected value per
  * check, which the checks must catch. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = argv.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args.getOrElse("seconds", "0").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val tiny = flags("tiny")
    val dir = new java.io.File(args("dir")).getAbsolutePath

    val cores = math.min(2, Runtime.getRuntime.availableProcessors)
    val spark = Sessions.build("perfbench", Some(s"local[$cores]"), cores)
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark.sparkContext, traced)
    val run = new Run(spark, trace, dir, seed, flags("corrupt"))
    args.get("fit-model") match {
      case Some(out) =>
        val tlc = Workloads.tlc(run, tiny, model = Some(out))
        tlc.setup()
        tlc.fit(out)
      case None =>
        val w = Workloads.make(workload, run, tiny, if (traced) None else args.get("model"))
        measure(run, w, workload, seed, seconds, traced, args.get("trace-out"))
    }
    spark.stop()
  }

  private def measure(run: Run, w: Workload, workload: String, seed: Long, seconds: Double,
      traced: Boolean, traceOut: Option[String]): Unit = {
    val (dir, trace) = (run.dir, run.trace)
    val setupS = (1 to (if (traced) 1 else w.setups)).map { _ =>
      deleteTree(new java.io.File(dir))
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    System.gc()
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val heap = new HeapSampler
    run.startRecording()
    val t0 = System.nanoTime()
    var i = 0L
    // whole op cycles: one when traced, else until `seconds` have passed
    def timeLeft = !traced && (System.nanoTime() - t0) / 1e9 < seconds
    while (i == 0 || i % w.cycle != 0 || timeLeft) { w.step(); i += 1 }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    heap.stop()
    val gcMs = gcBeans.map(_.getCollectionTime).sum - gc0
    w.release()
    val liveMb = liveHeapMb()
    trace.finish()
    val extra = w.finish()

    val m = Metrics.endToEnd(run, setupS, liveMb) ++ extra
    println(s"== perfbench $workload seed=$seed ${if (traced) "traced" else "untraced"}: " +
      f"${run.attempted} ops in $elapsedS%.1f s (busy ${run.busyMs / 1000}%.1f s), " +
      s"set-ups ${setupS.map(s => f"$s%.2f").mkString(", ")} s")
    run.latencies.foreach { case (k, v) =>
      println(f"  op $k%-22s n=${v.size}%4d p50=${Stats.q(v.toSeq, 0.5)}%10.2f ms  p90=${Stats.q(v.toSeq, 0.9)}%10.2f ms")
    }
    run.errors.foreach(e => println(s"  CHECK FAILED: $e"))
    m.foreach { case Metric(k, v, u) => println(f"  $k = $v%.6g $u") }
    val layers =
      if (!traced) Nil
      else {
        val l = Metrics.perLayer(run, w, setupS.head, gcMs, heap.peakMb)
        l.report.foreach(line => println(s"  $line"))
        traceOut.foreach(p => TraceFile.write(p, workload, seed, trace))
        l.metrics
      }
    val out = if (traced) layers else Metrics.gated(m)
    println(Metrics.json(run.failed == 0 && run.attempted > 0, run.attempted, run.failed, out))
  }

  /** Heap a full GC leaves live once Spark's cleaner has released what
    * the previous collection freed (broadcasts, shuffle and cache blocks):
    * full GCs 300 ms apart until the old generation stops shrinking. */
  def liveHeapMb(): Double = {
    def old(): Long = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    }
    var prev = old(); var cur = prev; var n = 0
    do { Thread.sleep(300); prev = cur; cur = old(); n += 1 } while ((cur < prev || n < 2) && n < 10)
    cur / 1048576.0
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Samples used driver heap every 50 ms until stopped. */
final class HeapSampler {
  @volatile private var running = true
  @volatile private var peak = 0L
  private val t = new Thread(() => {
    val rt = Runtime.getRuntime
    while (running) {
      peak = math.max(peak, rt.totalMemory() - rt.freeMemory())
      Thread.sleep(50)
    }
  })
  t.setDaemon(true)
  t.start()
  def stop(): Unit = { running = false; t.join() }
  def peakMb: Double = peak / 1048576.0
}

object Stats {
  /** Linear-interpolated quantile of `xs` (0 when empty). */
  def q(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.floor.toInt; val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
