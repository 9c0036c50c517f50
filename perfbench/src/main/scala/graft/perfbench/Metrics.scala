package graft.perfbench

/** The benchmark's metric definitions: the end-to-end figures of an
  * untraced run, the per-layer figures of a traced run, and the JSON
  * result line. */
object Metrics {

  /** End-to-end metrics in the result line (every workload has them). */
  val Gated: Seq[String] = Seq("setup_s", "ops_per_s", "read_ms_p50", "heap_live_mb")

  /** Read latency at quantile `p`: the geometric mean over read kinds of
    * each kind's own quantile, so every kind moves it in proportion and
    * no kind's band decides it alone. */
  def readMs(r: Run, p: Double): Double = {
    val kinds = r.kindsOf.get("read").map(_.toSeq).getOrElse(Nil)
    if (kinds.isEmpty) 0.0
    else math.exp(kinds.map(k => math.log(Stats.q(r.samples(k), p))).sum / kinds.size)
  }

  def endToEnd(r: Run, setupS: Seq[Double], liveMb: Double): Seq[Metric] = {
    def p50(k: String) = Stats.q(r.samples(k), 0.5)
    val reads = r.samples("read")
    val readKinds = r.kindsOf.get("read").map(_.toSeq).getOrElse(Nil)
      .map(k => Metric(s"${k}_ms_p50", p50(k), "ms"))
    val common = Seq(
      Metric("setup_s", Stats.q(setupS, 0.5), "s"),
      Metric("error_rate", if (r.attempted == 0) 1.0 else r.failed.toDouble / r.attempted, "ratio"),
      Metric("heap_live_mb", liveMb, "MB"),
      Metric("ops_per_s", r.attempted / (r.busyMs / 1000.0), "1/s"),
      Metric("read_ms_p50", readMs(r, 0.5), "ms"),
      Metric("read_ms_p90", readMs(r, 0.9), "ms"),
      Metric("read_samples", reads.size.toDouble, "count")) ++ readKinds
    val perKind = Seq("checkpoint" -> "checkpoint_commit_ms_p50", "append" -> "append_ms_p50",
      "merge" -> "merge_ms_p50", "delete" -> "delete_ms_p50",
      "delete_mor" -> "delete_mor_ms_p50", "update" -> "update_ms_p50")
      .collect { case (k, name) if r.samples(s"snapshots.$k").nonEmpty =>
        Metric(name, p50(s"snapshots.$k"), "ms") }
    common ++ perKind
  }

  def gated(all: Seq[Metric]): Seq[Metric] =
    Gated.map(k => all.find(_.name == k).getOrElse(sys.error(s"metric $k missing")))

  /** Engine stages of `tlc_batch` (span names). */
  val Stages = Seq("etl", "marts", "ml.score", "jobs.export", "serve.report", "ml.train")
  /** Snapshot commit kinds (span `snapshots.<kind>`). */
  val Kinds = Seq("append", "merge", "delete", "delete_mor", "update", "checkpoint", "optimize")
  /** Read-path spans. */
  val ReadSpans = Seq("sources.plan", "sources.scan", "snapshots.time_travel", "changefeed.read",
    "snapshots.resolve_cold", "snapshots.resolve_warm", "skipping.prune")

  /** Layer metrics only `log_scale` moves; that workload is not in
    * `BENCHMARK.json`, so they go to its report lines only. */
  private val LogScaleOnly = Set("snapshots.resolve_cold_share", "snapshots.resolve_warm_share",
    "skipping.prune_share")

  final case class Layers(metrics: Seq[Metric], report: Seq[String])

  /** Per-layer metrics of a traced run. Times enter the result line as a
    * share of the timed ops' busy time (`_share`, %), so a layer a
    * workload never calls reads 0% there rather than a clock reading of
    * 0 ms; the absolute per-call times are in the report lines. */
  def perLayer(r: Run, w: Workload, setupS: Double, gcMs: Double, peakMb: Double): Layers = {
    val t = r.trace
    val busy = r.busyMs
    val metrics = Seq.newBuilder[Metric]
    val report = Seq.newBuilder[String]
    // timed-region spans only (set-up spans carry op -1), except the fit
    def roll(name: String) = t.rollup(t.named(name, s => (s.op >= 0) != (name == "ml.train")))
    def per(x: Double, calls: Int) = if (calls == 0) 0.0 else x / calls
    def pct(x: Double, of: Double) = if (of <= 0) 0.0 else 100.0 * x / of
    def line(name: String, v: Double, unit: String) = report += f"$name = $v%.6g $unit"

    Stages.foreach { s =>
      val ru = roll(s)
      val base = if (s == "ml.train") setupS * 1000 else busy
      metrics ++= Seq(
        Metric(s"$s.wall_share", pct(ru.wallMs, base), "%"),
        Metric(s"$s.driver_share", pct(ru.driverMs, ru.wallMs), "%"),
        Metric(s"$s.spark_jobs", per(ru.c.jobs, ru.calls), "count"),
        Metric(s"$s.tasks", per(ru.c.tasks, ru.calls), "count"),
        Metric(s"$s.shuffle_mb", per(ru.c.shuffleBytes / 1048576.0, ru.calls), "MB"),
        Metric(s"$s.spill_mb", per(ru.c.spillBytes / 1048576.0, ru.calls), "MB"))
      if (ru.calls > 0) {
        line(s"$s.wall_ms", per(ru.wallMs, ru.calls), "ms")
        line(s"$s.driver_ms", per(ru.driverMs, ru.calls), "ms")
        line(s"$s.sched_wait_ms", per(ru.c.schedWaitMs, ru.calls), "ms")
      }
    }
    val tlc = w match { case x: TlcBatch => Some(x); case _ => None }
    metrics += Metric("etl.rows_kept_ratio", tlc.map(_.keptRatio).getOrElse(0.0), "ratio")
    metrics += Metric("marts.curated_scans", per(roll("marts").c.scanStages, roll("marts").calls), "count")

    Kinds.foreach { k =>
      val ru = roll(s"snapshots.$k")
      def x(key: String) = per(ru.extra.getOrElse(key, 0.0), ru.calls)
      metrics ++= Seq(
        Metric(s"snapshots.$k.wall_share", pct(ru.wallMs, busy), "%"),
        Metric(s"snapshots.$k.driver_share", pct(ru.driverMs, ru.wallMs), "%"),
        Metric(s"snapshots.$k.spark_jobs", per(ru.c.jobs, ru.calls), "count"),
        Metric(s"snapshots.$k.files_added", x("files_added"), "count"),
        Metric(s"snapshots.$k.bytes_written", x("bytes_written"), "bytes"),
        Metric(s"snapshots.$k.log_bytes", x("log_bytes"), "bytes"))
      if (ru.calls > 0) {
        line(s"snapshots.$k.wall_ms", per(ru.wallMs, ru.calls), "ms")
        line(s"snapshots.$k.driver_ms", per(ru.driverMs, ru.calls), "ms")
      }
    }

    val reads = ReadSpans.map(n => n -> roll(n)).toMap
    ReadSpans.foreach { n =>
      val ru = reads(n)
      metrics += Metric(s"${n}_share", pct(ru.wallMs, busy), "%")
      if (ru.calls > 0) line(s"${n}_ms", per(ru.wallMs, ru.calls), "ms")
    }
    val (plan, scan) = (reads("sources.plan"), reads("sources.scan"))
    metrics += Metric("sources.spark_jobs", per(plan.c.jobs + scan.c.jobs, plan.calls), "count")
    val scanned = Seq("read.scan", "read.plan").map(roll)
    val filesRead = scanned.map(_.extra.getOrElse("files_read", 0.0)).sum
    val filesLive = scanned.map(_.extra.getOrElse("files_live", 0.0)).sum
    metrics += Metric("skipping.files_read_ratio", if (filesLive == 0) 0.0 else filesRead / filesLive, "ratio")
    metrics += Metric("sources.plan_files", per(filesRead, scanned.map(_.calls).sum), "count")
    metrics += Metric("jvm.gc_ms", gcMs, "ms")
    metrics += Metric("heap.sampled_peak_mb", peakMb, "MB")

    val m = metrics.result()
    Layers(m.filterNot(x => LogScaleOnly(x.name)),
      report.result() ++ m.map(x => f"${x.name} = ${x.value}%.6g ${x.unit}"))
  }

  /** The result line. */
  def json(correct: Boolean, attempted: Long, failed: Long, ms: Seq[Metric]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    val body = ms.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
