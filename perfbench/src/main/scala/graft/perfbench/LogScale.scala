package graft.perfbench

import scala.collection.mutable

import graft.core.Skipping
import graft.core.Skipping.FileStats
import graft.jobs.Snapshots
import graft.sources.SnapshotPlanProbe

/** `log_scale`: a snapshot log of many live files with parquet
  * checkpoints, built from data-free adds (`commitMetadataOnlyAdds`, as
  * `graft.MetaScale` builds its tables). File count, not data, sets the
  * cost: checkpoint writes, driver-side replay and pruning.
  *
  * Each op commits `perCommit` adds; every 10th version lands a
  * checkpoint. After each commit the client resolves the new version
  * (first, cold, then warm), and alternates a selective stats-pruned plan
  * through the `graft-snapshot` file index with a time-travel resolution
  * of an older version that has never been resolved, which misses the
  * per-version memos.
  *
  * File `i` covers keys `[lo_i, hi_i]` inside `[100 i, 100 i + 99]`, with
  * seeded offsets, so the expected survivors of any key range are known
  * without asking the engine. */
final class LogScale(r: Run, buildFiles: Int, buildCommits: Int, perCommit: Int) extends Workload {
  val setups = 3
  val cycle = 10
  private val spark = r.spark
  private def root = s"${r.dir}/log/t"

  private var files = 0            // synthetic files committed so far
  private var version = 0L
  private val filesAt = mutable.LongMap.empty[Int] // version -> live synthetic files
  private val unresolved = mutable.ArrayBuffer.empty[Long]
  private var opNo = 0L

  private def lo(i: Int): Long = 100L * i + (Gen.ud(r.seed, i, 4) * 50).toLong
  private def hi(i: Int): Long = lo(i) + (Gen.ud(r.seed, i, 5) * 50).toLong

  private def commitFiles(n: Int): Long = {
    val adds = (files until files + n).map { i =>
      val rel = f"data/part-$i%07d.parquet"
      rel -> FileStats(rel, 100L, Map("k" -> lo(i)), Map("k" -> hi(i)),
        Map.empty, Map.empty, Map.empty, Map.empty, Map("k" -> 0L))
    }
    val fmeta = adds.map { case (rel, _) => rel -> (10L * 1024 * 1024, 1700000000000L) }.toMap
    val v = Snapshots.commitMetadataOnlyAdds(spark, root, adds.map(_._1), adds.toMap, fmeta)
    files += n
    v
  }

  def setup(): Unit = {
    import spark.implicits._
    files = 0; opNo = 0L; filesAt.clear(); unresolved.clear()
    // one real seed file (k = -1, outside every synthetic envelope)
    version = Snapshots.init(spark, root, Seq((-1L, 0.0)).toDF("k", "v"),
      Map(Snapshots.checkpointFormatProp -> "parquet"))
    filesAt(version) = 0
    (1 to buildCommits).foreach { _ =>
      version = commitFiles(buildFiles / buildCommits)
      filesAt(version) = files
    }
    unresolved ++= (1L to version)
    // warm-up: commits up to the version before the next checkpoint
    while ((version + 1) % 10 != 0 || opNo == 0) step()
  }

  def step(): Unit = {
    r.attempt(s"commit $opNo")(commit())
    r.attempt(s"read $opNo")(reads())
  }

  private def commit(): Boolean = {
    opNo += 1
    val label = if ((version + 1) % 10 == 0) "checkpoint" else "append"
    val before = if (r.trace.enabled) Some(Disk.usage(root).logBytes) else None
    val v = r.timed(s"snapshots.$label", opNo, group = "commit")(commitFiles(perCommit))
    before.foreach { b =>
      r.trace.add(s"snapshots.$label", "files_added", perCommit)
      r.trace.add(s"snapshots.$label", "log_bytes", Disk.usage(root).logBytes - b)
    }
    val ok = r.check(v == version + 1, s"commit landed v$v, expected v${version + 1}")
    version = v
    filesAt(version) = files
    ok
  }

  private def reads(): Boolean = {
    val n = opNo
    val v = version
    val cold = r.timed("read.resolve_cold", n, group = "read") {
      r.trace.span("snapshots.resolve_cold", n)(Snapshots.versionFiles(spark, root, v).size)
    }
    val warm = r.timed("read.resolve_warm", n) {
      r.trace.span("snapshots.resolve_warm", n)(Snapshots.versionFiles(spark, root, v).size)
    }
    val want = filesAt(v) + 1
    val okResolve = r.check(cold == want && warm == want,
      s"v$v resolved to $cold/$warm files, committed $want")
    okResolve & ((n % 3).toInt match {
      case 0 => plan(n, v)
      case 1 => prune(n, v)
      case _ => timeTravel(n)
    })
  }

  /** A key range over about 1% of the files, and how many files the
    * envelopes put in it. */
  private def range(n: Long): (Long, Long, Int) = {
    val width = files / 100
    val first = 1 + (Gen.ud(r.seed, n, 6) * (files - width - 1)).toInt
    val (a, b) = (lo(first) - 1, lo(first + width) - 1)
    (a, b, (0 until files).count(i => hi(i) >= a && lo(i) <= b))
  }

  /** Selective scan planning through the `graft-snapshot` file index. */
  private def plan(n: Long, v: Long): Boolean = {
    val (a, b, want) = range(n)
    val got = r.timed("read.plan", n, group = "read") {
      r.trace.span("sources.plan", n)(SnapshotPlanProbe.planSelective(spark, root, v, "k", a, b))
    }
    r.trace.add("read.plan", "files_read", got.toDouble)
    r.trace.add("read.plan", "files_live", files + 1.0)
    val corrupt = if (r.corrupt && r.attempted > 0) 1 else 0
    r.check(got == want + corrupt, s"plan k in [$a, $b] at v$v listed $got files, envelopes say $want")
  }

  /** The core stats prune (`Skipping.pruneFiles`) over the version's
    * stats index. */
  private def prune(n: Long, v: Long): Boolean = {
    val (a, b, want) = range(n)
    val got = r.timed("read.prune", n, group = "read") {
      r.trace.span("skipping.prune", n) {
        Skipping.pruneFiles(Snapshots.statsIndex(spark, root, v), "k", a, b).size
      }
    }
    val corrupt = if (r.corrupt && r.attempted > 0) 1 else 0
    r.check(got == want + corrupt, s"prune k in [$a, $b] at v$v kept $got files, envelopes say $want")
  }

  /** Resolution of an older version no read has resolved yet. */
  private def timeTravel(n: Long): Boolean =
    if (unresolved.isEmpty) true
    else {
      val at = unresolved.remove((Gen.ud(r.seed, n, 7) * unresolved.size).toInt)
      val got = r.timed("read.time_travel", n, group = "read") {
        r.trace.span("snapshots.time_travel", n)(Snapshots.versionFiles(spark, root, at).size)
      }
      r.check(got == filesAt(at) + 1, s"v$at resolved to $got files, committed ${filesAt(at) + 1}")
    }

}
