package graft

import graft.core.Sessions
import graft.core.Skipping.FileStats
import graft.jobs.Snapshots

/** Metadata-path latency at scale: how long do snapshot resolution
  * (`versionFiles`), a cold stats prune, and a checkpoint write take as
  * the LIVE FILE COUNT grows — 1k / 10k / 100k files — under the text
  * checkpoint codec vs the parquet (columnar) one?
  *
  * This is the empirical backing for the parquet-checkpoint design: at
  * ~10⁶ files (100 TB at 100 MB/file) a text checkpoint is an O(table)
  * driver parse per snapshot resolution and an O(table) driver render
  * per checkpoint, while the columnar codec keeps checkpoint WRITES
  * O(change) on the driver (incremental: previous rows never leave the
  * executors) and evaluates pruning as a distributed filter that
  * collects only survivors.
  *
  * Tables are built with `commitMetadataOnlyAdds` — synthetic adds with
  * synthetic k-envelopes, NO data files — because this measures the
  * metadata path only; the data path is exercised by the oracle
  * registry. Each table gets `files/100` adds per commit across 100
  * commits, so checkpoints land every 10 commits and the parquet ones
  * build incrementally, exactly as production would.
  *
  * Usage: runMain graft.MetaScale [outJsonlPath] [sizesCsv] [codecsCsv] [mode]
  * Emits one JSON line per (codec, files) cell:
  *   {"meta_scale":..,"files":..,"build_sec":..,"ckpt_commit_sec":..,
  *    "plain_commit_sec":..,"resolve_cold_sec":..,"prune_cold_sec":..,
  *    "prune_warm_sec":..,"survivors":..}
  *
  * mode `light` (r17): skip the two cells that INHERENTLY materialize
  * the full live list on the driver (`resolve_cold`, `plan_cold`) and
  * verify the build via the aggr header instead of `versionFiles` — the
  * 10⁸-file aspiration cell: the whole build + steady checkpoint +
  * sizing + selective plan completes without the driver EVER holding
  * the O(files) list. mode `lightlist` (r18): light build/verify, but
  * run the two full-listing cells at the end — min-of-N like every
  * other cell since r19 (the max-run/min-run ratio IS the GC-storm
  * detector the r18 single-shot row couldn't provide).
  *
  * r18: every measurement cell is min-of-N (SPARK_GRAFT_METASCALE_REPS,
  * default 3) with the per-run values in the JSONL — three committed
  * r17 runs of the same cell disagreed by up to 2×, and a single
  * number cannot separate a fix from host noise. A daemon thread
  * samples driver heap every 250 ms; the line carries the peak.
  */
object MetaScale {
  def main(args: Array[String]): Unit = {
    val out = args.headOption
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.build("graft-metascale", Some(s"local[$cpus]"), cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val sink = out.map(p => new java.io.PrintWriter(
      new java.io.FileWriter(p, false), true))
    def emit(line: String): Unit = { println(line); sink.foreach(_.println(line)) }

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    val sizes = args.lift(1).map(_.split(',').map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1000, 10000, 100000))
    val codecs = args.lift(2).map(_.split(',').map(_.trim).toSeq)
      .getOrElse(Seq("text", "parquet"))
    val mode = args.lift(3).getOrElse("")
    val light = mode == "light" || mode == "lightlist"
    val listOnce = mode == "lightlist"
    val reps = sys.env.get("SPARK_GRAFT_METASCALE_REPS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    // driver-heap peak per cell, sampled by a daemon thread — the
    // number the 10⁸ light row must keep bounded. heapRunPeak tracks
    // the SAME signal per measurement run (r18 VERDICT task 2: the
    // listing cells' heap story must be per-run, not per-cell).
    val heapPeak = new java.util.concurrent.atomic.AtomicLong(0L)
    val heapRunPeak = new java.util.concurrent.atomic.AtomicLong(0L)
    def usedHeap(): Long = {
      val rt = Runtime.getRuntime
      rt.totalMemory() - rt.freeMemory()
    }
    val sampler = new Thread(() => {
      while (true) {
        val used = usedHeap()
        heapPeak.updateAndGet(m => math.max(m, used))
        heapRunPeak.updateAndGet(m => math.max(m, used))
        Thread.sleep(250)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    // min-of-N with per-run values: one table build, N measurements per
    // cell — a single number cannot separate a fix from host noise.
    // Each run also records ITS OWN heap peak (MB), and prep ends with
    // an explicit GC fence so a run never pays (or hides under) the
    // previous rep's uncollected garbage — the attribution the r18
    // 356 s GC-storm rep lacked.
    def minOfN[A](n: Int)(prep: => Unit)(f: => A): (A, Double, Seq[Double], Seq[Long]) = {
      var best: Option[(A, Double)] = None
      val runs = Seq.newBuilder[Double]
      val heaps = Seq.newBuilder[Long]
      (1 to n).foreach { _ =>
        prep
        System.gc()
        heapRunPeak.set(usedHeap())
        val (a, t) = time(f)
        runs += t
        heaps += math.max(heapRunPeak.get(), usedHeap()) / (1024 * 1024)
        if (best.forall(_._2 > t)) best = Some((a, t))
      }
      (best.get._1, best.get._2, runs.result(), heaps.result())
    }
    def runsJson(rs: Seq[Double]): String =
      rs.map(t => f"$t%.3f").mkString("[", ",", "]")
    def heapsJson(hs: Seq[Long]): String = hs.mkString("[", ",", "]")
    for (codec <- codecs; n <- sizes) {
      val root = java.nio.file.Files.createTempDirectory("metascale")
        .toFile.getAbsolutePath + "/t"
      // "partpq": a Hive-PARTITIONED parquet-checkpoint table (the
      // reference's own year=/month= storage model) — partition values
      // ride the synthetic paths, the prune predicate constrains the
      // partition dimension, and the point envelopes derive
      // EXECUTOR-SIDE on the distributed path (r15).
      // "partsc": the FLAGSHIP COMPOSITION (r16) — partitioned layout +
      // sidecar manifests + format=auto on ONE table, i.e. exactly how
      // the reference's year=/month= store would be configured at scale.
      // "partscbl": partsc with bloomOn set on the PLAN probes — pins
      // that a bloom-indexed partitioned table rides the same
      // metas-first plan path (r18 VERDICT task 4; no bloom VALUES in
      // the probe filters, so no footer reads — synthetic files).
      val partitioned =
        codec == "partpq" || codec == "partsc" || codec == "partscbl"
      val bloomProbe = if (codec == "partscbl") Some("k") else None
      val props = codec match {
        case "parquet" | "auto" => Map(Snapshots.checkpointFormatProp -> codec)
        case "sidecar" => Map(Snapshots.checkpointFormatProp -> "parquet",
          Snapshots.checkpointSidecarsProp -> "true")
        case "partpq" => Map(Snapshots.checkpointFormatProp -> "parquet",
          "graft.partitionBy" -> "month")
        case "partsc" | "partscbl" => Map(Snapshots.checkpointFormatProp -> "auto",
          Snapshots.checkpointSidecarsProp -> "true",
          "graft.partitionBy" -> "month")
        case _ => Map.empty[String, String]
      }
      val seed =
        if (partitioned) Seq((0L, 0.0, 0L)).toDF("k", "v", "month")
        else Seq((0L, 0.0)).toDF("k", "v")
      Snapshots.init(spark, root, seed, props)
      val perCommit = n / 100
      var ckptSec = 0.0; var plainSec = 0.0
      val (_, buildSec) = time {
        (0 until 100).foreach { c =>
          val adds = (0 until perCommit).map { i =>
            val fileNo = c * perCommit + i
            val lo = fileNo.toLong * 100L
            val rel =
              if (partitioned) f"data/month=${fileNo % 12}%d/part-$fileNo%07d.parquet"
              else f"data/part-$fileNo%07d.parquet"
            rel ->
              FileStats(rel, 100L,
                Map("k" -> lo), Map("k" -> (lo + 99L)),
                Map.empty, Map.empty, Map.empty, Map.empty,
                Map("k" -> 0L))
          }
          // synthetic fmeta (the files never exist): what a real commit
          // records for free — lets plan-time FileStatus synthesis run
          val fmeta = adds.map { case (rel, _) =>
            rel -> (10L * 1024 * 1024, 1700000000000L) }.toMap
          val (_, sec) = time {
            Snapshots.commitMetadataOnlyAdds(spark, root,
              adds.map(_._1), adds.toMap, fmeta)
          }
          // commit 100 lands v100 (a checkpoint commit); 99 is plain —
          // their difference isolates the checkpoint cost at full size
          if (c == 99) ckptSec = sec
          if (c == 98) plainSec = sec
          // light mode: drop the root's caches at each boundary — the
          // delta cache would otherwise accumulate EVERY commit's stats
          // maps (O(total adds) driver heap at 10⁸); the next boundary
          // re-parses only its ≤10-delta tail
          if (light && (c + 1) % 10 == 0) Snapshots.invalidateCaches(spark, root)
        }
      }
      val head = Snapshots.latestVersion(spark, root)
      // GC fence between build and measurement: the build loop's
      // synthetic-add garbage (10⁶ FileStats per commit at the 10⁸
      // decade) must not be collected INSIDE a measurement cell nor
      // linger in used-heap — after this, recorded peaks are the
      // measurement cells' own (r18 VERDICT task 3)
      System.gc()
      heapPeak.set(0L)
      Snapshots.invalidateCaches(spark, root)
      // light mode: the driver must NEVER hold the full list — verify
      // the build through the aggr header (O(tail)) instead of
      // resolving every path; lightlist runs the listing ONCE at the
      // end (the decade-up full-scan data point)
      val listReps = if (listOnce) reps else if (light) 0 else reps
      if (light) {
        val aggr = Snapshots.liveAggregate(spark, root, head)
        require(aggr.exists(_._1 == n + 1),
          s"expected ${n + 1} live files, aggr says $aggr")
      }
      val (resolveCold, resolveRuns, resolveHeaps) =
        if (listReps == 0) (-1.0, Seq.empty[Double], Seq.empty[Long])
        else {
          val (files, t, rs, hs) = minOfN(listReps)(
            Snapshots.invalidateCaches(spark, root))(
            Snapshots.versionFiles(spark, root, head))
          require(files.size == n + 1,
            s"expected ${n + 1} live files, got ${files.size}")
          (t, rs, hs)
        }
      // a selective range: ~1% of the k-domain → ~1% of the files
      // survive; the partitioned cell ALSO constrains the partition
      // dimension (point envelopes from the paths cut a further ~11/12)
      val pred =
        (s"k BETWEEN ${n / 2 * 100L} AND ${(n / 2 + n / 100) * 100L}") +
          (if (partitioned) s" AND month = ${(n / 2) % 12}" else "")
      // cold/warm pairs per rep: invalidate, then measure both
      var cold: Seq[String] = Nil
      val pruneColdRuns = Seq.newBuilder[Double]
      val pruneWarmRuns = Seq.newBuilder[Double]
      (1 to reps).foreach { _ =>
        Snapshots.invalidateCaches(spark, root)
        val (c, tc) = time(Snapshots.statsCandidateFiles(spark, root, head, pred))
        val (w, tw) = time(Snapshots.statsCandidateFiles(spark, root, head, pred))
        require(c == w, "cold and warm prunes must agree")
        cold = c
        pruneColdRuns += tc; pruneWarmRuns += tw
      }
      val (pruneColdRs, pruneWarmRs) = (pruneColdRuns.result(), pruneWarmRuns.result())
      val (pruneCold, pruneWarm) = (pruneColdRs.min, pruneWarmRs.min)
      // plan-time file-list construction through the FileIndex front
      // door (FileStatus synthesis included) — the scan operator's
      // actual plan-time wait. Parquet-checkpoint tables synthesize
      // from the recorded fmeta with zero stat RPCs; text tables would
      // listStatus real directories, which synthetic files lack → -1.
      val logPath = new org.apache.hadoop.fs.Path(root + "/_log")
      val lfs = logPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hasPq = lfs.listStatus(logPath)
        .exists(_.getPath.getName.endsWith(".checkpoint.parquet"))
      val (planCold, planRuns, planHeaps) =
        if (hasPq && listReps > 0) {
          val (planned, t, rs, hs) = minOfN(listReps)(
            Snapshots.invalidateCaches(spark, root))(
            graft.sources.SnapshotPlanProbe.planFiles(spark, root, head, bloomProbe))
          require(planned == n + 1, s"planned $planned files, expected ${n + 1}")
          (t, rs, hs)
        } else (-1.0, Seq.empty[Double], Seq.empty[Long])
      // what the OPTIMIZER waits for on every query — `sizeInBytes`,
      // answered from the checkpoint's aggr header (r16): O(tail
      // change), flat in file count. And a SELECTIVE scan's plan-time
      // listing: only the prune survivors' FileStatuses are built.
      val (sizeCold, sizeRuns) =
        if (hasPq) {
          val (sized, t, rs, _) = minOfN(reps)(
            Snapshots.invalidateCaches(spark, root))(
            graft.sources.SnapshotPlanProbe.planSize(spark, root, head, bloomProbe))
          // n synthetic 10 MiB files + one REAL seed file of unknown size
          require(sized >= n.toLong * 10L * 1024 * 1024 &&
            sized < (n + 2).toLong * 10L * 1024 * 1024,
            s"sizeInBytes $sized out of range for $n synthetic 10 MiB files")
          (t, rs)
        } else (-1.0, Seq.empty[Double])
      val (planSel, planSelCold, planSelRuns) =
        if (hasPq) {
          val (p, t, rs, _) = minOfN(reps)(
            Snapshots.invalidateCaches(spark, root))(
            graft.sources.SnapshotPlanProbe.planSelective(spark, root, head,
              "k", n / 2 * 100L, (n / 2 + n / 100) * 100L, bloomProbe))
          (p, t, rs)
        } else (-1L, -1.0, Seq.empty[Double])
      // the probe's filter carries the k-range only; on partitioned
      // tables the prune's predicate ALSO cut the month dimension, so
      // the probe legitimately lists more there
      if (planSel >= 0)
        require(planSel <= (if (partitioned) n + 1 else cold.size + 1),
          s"selective plan listed $planSel files, prune says ${cold.size}")
      // STEADY-STATE checkpoint cost: a FIXED 1k-file change (10 commits
      // of 100 adds) driven to the next checkpoint boundary at the
      // CURRENT table size. This is the column that separates O(change)
      // sidecar manifests from O(table) full-row rewrites — the build
      // loop's per-commit change grows with n, so ckpt_commit_sec alone
      // cannot show it.
      var steadySec = -1.0
      // sidecar maintenance (spill/fold) deltas across the BOUNDARY
      // commit — attributes a slow steady_ckpt cell to the amortized
      // work it performed instead of leaving an unexplained spike
      var maint = (0L, 0.0, 0L, 0L, 0.0, 0L)
      (1 to 10).foreach { c =>
        val adds = (0 until 100).map { i =>
          val fileNo = n + c * 100 + i
          val lo = fileNo.toLong * 100L
          val rel =
            if (partitioned) f"data/month=${fileNo % 12}%d/part-$fileNo%07d.parquet"
            else f"data/part-$fileNo%07d.parquet"
          rel -> FileStats(rel, 100L, Map("k" -> lo), Map("k" -> (lo + 99L)),
            Map.empty, Map.empty, Map.empty, Map.empty, Map("k" -> 0L))
        }
        val fmeta = adds.map { case (rel, _) =>
          rel -> (10L * 1024 * 1024, 1700000000000L) }.toMap
        val before = Snapshots.SidecarMaintenance.snapshot
        val (_, sec) = time {
          Snapshots.commitMetadataOnlyAdds(spark, root,
            adds.map(_._1), adds.toMap, fmeta)
        }
        if (c == 10) { // the boundary commit carries the checkpoint
          steadySec = sec
          val a = Snapshots.SidecarMaintenance.snapshot
          maint = (a._1 - before._1, a._2 - before._2, a._3 - before._3,
            a._4 - before._4, a._5 - before._5, a._6 - before._6)
        }
      }
      emit(f"""{"meta_scale":"$codec","files":$n,"build_sec":$buildSec%.3f,""" +
        f""""ckpt_commit_sec":$ckptSec%.3f,"plain_commit_sec":$plainSec%.3f,""" +
        f""""resolve_cold_sec":$resolveCold%.3f,"prune_cold_sec":$pruneCold%.3f,""" +
        f""""prune_warm_sec":$pruneWarm%.3f,"plan_cold_sec":$planCold%.3f,""" +
        f""""size_cold_sec":$sizeCold%.3f,"plan_sel_sec":$planSelCold%.3f,""" +
        f""""plan_sel_files":$planSel,""" +
        f""""resolve_cold_runs":${runsJson(resolveRuns)},""" +
        f""""plan_cold_runs":${runsJson(planRuns)},""" +
        f""""resolve_cold_heap_mb_runs":${heapsJson(resolveHeaps)},""" +
        f""""plan_cold_heap_mb_runs":${heapsJson(planHeaps)},""" +
        f""""heap_max_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)},""" +
        f""""prune_cold_runs":${runsJson(pruneColdRs)},""" +
        f""""prune_warm_runs":${runsJson(pruneWarmRs)},""" +
        f""""size_cold_runs":${runsJson(sizeRuns)},""" +
        f""""plan_sel_runs":${runsJson(planSelRuns)},""" +
        f""""steady_ckpt_sec":$steadySec%.3f,""" +
        f""""steady_spills":${maint._1},"steady_spill_sec":${maint._2}%.3f,""" +
        f""""steady_spill_rows":${maint._3},""" +
        f""""steady_folds":${maint._4},"steady_fold_sec":${maint._5}%.3f,""" +
        f""""steady_fold_rows":${maint._6},""" +
        f""""heap_peak_mb":${heapPeak.get() / (1024 * 1024)},""" +
        f""""survivors":${cold.size}}""")
    }
    sink.foreach(_.close())
    spark.stop()
  }
}
