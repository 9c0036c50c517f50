package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes a traced run's spans and their self counters as JSON. */
object TraceFile {
  def write(path: String, workload: String, seed: Long, t: Trace): Unit = {
    val spans = t.allSpans
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val rows = spans.map { s =>
      val c = t.countersOf(s.id)
      val extra = t.extraOf(s.id).map { case (k, v) => s"${q(k)}: $v" }.mkString(", ")
      s"""{"id": ${s.id}, "name": ${q(s.name)}, "parent": ${s.parent}, "op": ${s.op}, """ +
        f""""start_ms": ${(s.startNs - t0) / 1e6}%.3f, "end_ms": ${(s.endNs - t0) / 1e6}%.3f, """ +
        s""""jobs": ${c.jobs}, "tasks": ${c.tasks}, "sched_wait_ms": ${c.schedWaitMs}, """ +
        s""""shuffle_bytes": ${c.shuffleBytes}, "spill_bytes": ${c.spillBytes}, """ +
        s""""output_bytes": ${c.outputBytes}, "scan_stages": ${c.scanStages}, "extra": {$extra}}"""
    }
    val body = s"""{"workload": ${q(workload)}, "seed": $seed, "spans": [\n${rows.mkString(",\n")}\n]}\n"""
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, body.getBytes(StandardCharsets.UTF_8))
  }
}
