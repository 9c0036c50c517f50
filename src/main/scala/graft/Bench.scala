package graft

import graft.core.Sessions

import java.io.{FileWriter, PrintWriter}
import java.nio.file.{Files, Paths}

/** Driver benchmark: runs every registry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract).
  *
  * Materialization uses the noop sink — full computation of every operator
  * including sorts and projections, no output cost, no count(*) shortcuts
  * (Catalyst can answer count-only plans from statistics/metadata, which
  * would under-measure scans). Queries run in sorted name order so
  * per-round numbers are comparable; the first query additionally pays JVM/
  * codegen warm-up. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.build("graft-bench", Some(s"local[$cpus]"), cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    // min of 2 runs: the host shows multi-x background-load noise; the
    // second pass is JIT- and page-cache-warm, i.e. the steady-state number
    // Optional local-iteration filter (comma-separated substrings); the
    // driver sets no filter and benches everything.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.split(',').toSeq)
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // r18 (VERDICT task 6): at min-of-2 the host's background load made
    // UNTOUCHED heavy queries swing ±30% round-to-round — every total was
    // a coin flip. The top decile of the PREVIOUS round's driver artifact
    // (the only queries that can explain a total) get extra runs
    // (min-of-4 by default); per-run values land in the progress JSONL.
    val heavyRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_HEAVY_RUNS", "4").toInt
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => filter.forall(_.exists(name.contains)) }
    val heavy: Set[String] =
      try {
        val arts = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
          .filter(_.getName.matches("BENCH_r\\d+\\.json"))
        if (arts.isEmpty) Set.empty
        else {
          val latest = arts.maxBy(
            _.getName.stripPrefix("BENCH_r").stripSuffix(".json").toInt)
          val txt = new String(Files.readAllBytes(latest.toPath), "UTF-8")
          // the artifact's per-query entries — the driver embeds the
          // stdout chunk lines as an ESCAPED JSON string ("tail"), so the
          // pairs appear as \"name\":12.345; accept both shapes, plus the
          // r19 [wall,cpu,gc] array shape (first element = wall). The
          // artifact carries only the slowest tier, which always covers
          // the registry's top decile. Matched names are intersected with
          // the queries registry (r18 ADVICE): non-query numeric keys
          // ("sf", "value", any future total) can never occupy a slot.
          val registry = SparkEntry.queries.keySet
          val pair = """\\?"([A-Za-z0-9_]+)\\?":\s*\[?(-?\d+\.\d+)""".r
          val pairs = pair.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble)
            .filter(kv => registry.contains(kv._1) && kv._2 >= 0).toSeq
            .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }.toSeq
          val n = math.max(1, selected.size / 10)
          pairs.sortBy(-_._2).take(n).map(_._1).toSet
        }
      } catch { case scala.util.control.NonFatal(_) => Set.empty[String] }
    // Incremental per-query emission (VERDICT r4 item #1): every timing is
    // appended to a JSONL file the moment it's measured, so a truncated
    // stdout capture can never lose per-query numbers or the total again.
    val progressPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PROGRESS", "target/bench_progress.jsonl")
    Option(Paths.get(progressPath).getParent).foreach(Files.createDirectories(_))
    val progress = new PrintWriter(new FileWriter(progressPath, false), true) // autoflush per line
    // Failures are STRUCTURAL (r16 verdict #2): a failed run never
    // contributes a timing — it is counted per query, lands in the
    // progress JSONL and the driver artifact, and a query failing every
    // run publishes sec = -1 instead of a fake number. The stderr print
    // stays for the stack-trace forensics, but the JSON no longer needs it.
    // r19 (VERDICT task 1): per-run process-CPU and GC time land next to
    // every wall timing, so host-load contamination is visible IN the
    // artifact (an externally-loaded run shows wall >> cpu with flat gc;
    // a GC storm shows gc ~ wall). Process CPU counts all JVM threads —
    // under local[N] cpu > wall is normal for parallel stages.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMillis(): Long = {
      val it = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.iterator()
      var s = 0L
      while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) s += t }
      s
    }
    def r3(d: Double): String = f"$d%.3f"
    val results = selected.map { case (name, fn) =>
      var failed = 0
      val runsFor = if (heavy(name)) math.max(nRuns, heavyRuns) else nRuns
      val times = (1 to runsFor).flatMap { _ =>
        val c0 = osBean.getProcessCpuTime
        val g0 = gcMillis()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch {
            case e: Throwable =>
              failed += 1
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              e.printStackTrace()
              false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        val cpu = (osBean.getProcessCpuTime - c0) / 1e9
        val gc = (gcMillis() - g0) / 1e3
        spark.catalog.clearCache() // stage caches must not leak into the next timing
        if (ok) Some((dt, cpu, gc)) else None
      }
      val best = if (times.isEmpty) (-1.0, -1.0, -1.0) else times.minBy(_._1)
      progress.println(
        s"""{"query":"$name","sec":${best._1},"cpu":${r3(best._2)},"gc":${r3(best._3)},""" +
        s""""runsFor":$runsFor,"failed":$failed,"runs":[${times.map(_._1).mkString(",")}],""" +
        s""""cpuRuns":[${times.map(t => r3(t._2)).mkString(",")}],""" +
        s""""gcRuns":[${times.map(t => r3(t._3)).mkString(",")}]}""")
      (name, best._1, failed, best._2, best._3)
    }
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, _, _) if v >= 0 => v }.sum
    val totalCpu = results.collect { case (_, v, _, c, _) if v >= 0 => c }.sum
    val totalGc = results.collect { case (_, v, _, _, g) if v >= 0 => g }.sum
    val failedRuns = results.map(_._3).sum
    val failedQueries = results.collect { case (k, _, f, _, _) if f > 0 => k }
    val failedJson = failedQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,""" +
      s""""cpu_total":${r3(totalCpu)},"gc_total":${r3(totalGc)},""" +
      s""""failed_runs":$failedRuns,"failed_queries":$failedJson,"sf":"$sfDir"}"""
    progress.println(line) // the full line lives on disk even if stdout truncates
    progress.close()
    val totalWriter = new PrintWriter(new FileWriter("target/bench_total.json", false), true)
    totalWriter.println(line)
    totalWriter.close()
    // stdout: SHORT lines only. The driver captures a ~2000-char tail of
    // stdout; the full per-query map at 180+ queries is ~2900 chars and a
    // beheaded JSON object does not parse (r6–r9: parsed:null four rounds).
    // Self-attribution within that budget: the SLOWEST queries — the only
    // ones that can explain a total — go out as 4 self-contained chunk
    // lines (~400 chars each), so a churned host window is attributable
    // from the driver artifact alone instead of needing forensics over
    // target/bench_progress.jsonl (which still holds every query). The
    // short totals line stays LAST (the driver's parser contract).
    // build.sbt forces StdoutOutput (no "[info] " prefix) and
    // showSuccess=false (no "[success]" trailer) so these lines reach the
    // driver raw, printed after spark.stop() so nothing trails them.
    // r19: chunk entries are "name":[wall,cpu,gc] triples so the driver
    // artifact itself attributes a slow cell (wall >> cpu = host load;
    // gc ~ wall = GC storm). Triples are ~3× wider, so 6 queries/chunk
    // (24 slowest total) keeps each line inside the ~400-char budget.
    val slowest = results.sortBy(-_._2).take(24).grouped(6).toSeq
    val chunks = slowest.zipWithIndex.map { case (grp, i) =>
      val qs24 = grp.map { case (k, v, _, c, g) =>
        "\"" + k + "\":[" + r3(v) + "," + r3(c) + "," + r3(g) + "]"
      }.mkString("{", ",", "}")
      s"""{"metric":"slowest","chunk":${i + 1},"of":${slowest.size},"queries":$qs24}"""
    }
    // r20 (VERDICT r19 task 2): the TOTAL line itself carries a per-query
    // wall map again, so the driver's round-over-round comparator gets
    // per-query rows from the stdout artifact (PERF r18/r19: n_common 0 —
    // the separate "slowest" chunk lines never reached it). The driver
    // keeps only a 2000-char stdout TAIL, and a beheaded JSON line parses
    // as null (r6–r9), so the map holds the slowest-first PREFIX that
    // keeps the whole line within ~1880 chars: the queries that can
    // explain a total are always present (~60 at current name lengths, a
    // superset of the old 48-slowest surface), the line always parses,
    // and a query is listed only if every slower one is. The COMPLETE
    // map still lands in target/bench_progress.jsonl + bench_total.json.
    val lineBudget = 1880
    val prefix = s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${results.size},"queries":{"""
    val suffix = s"""},"cpu_total":${r3(totalCpu)},"gc_total":${r3(totalGc)},""" +
      s""""failed_runs":$failedRuns,"failed_queries":$failedJson,"sf":"$sfDir"}"""
    val ranked = results.sortBy(-_._2).map { case (k, v, _, _, _) => "\"" + k + "\":" + r3(v) }
    // line length with the first i entries (comma-joined), i = 0..n
    val lengths = ranked.scanLeft(prefix.length + suffix.length - 1)(_ + _.length + 1)
    val fit = lengths.tail.takeWhile(_ <= lineBudget).size
    val short = prefix + ranked.take(fit).mkString(",") + suffix
    spark.stop()
    chunks.foreach(println)
    println(short)
  }
}
