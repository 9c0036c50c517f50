package graft.jobs

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The checkpoint `aggr` header — (liveFiles, totalBytes) recorded at
  * every parquet checkpoint and rolled forward O(tail change), so
  * `SnapshotFileIndex.sizeInBytes` (asked by the optimizer on EVERY
  * query) never materializes the per-file live list. Pins: exact
  * parity with a real stat-every-file ground truth through a DML mix
  * (appends, COW delete/update, OPTIMIZE, RESTORE), at checkpoint
  * versions AND between them; parity on sidecar-manifest tables; and
  * the load-bearing scale property — answering `sizeInBytes` populates
  * NO per-file cache entry (the O(files) collect provably never ran). */
class LiveAggregateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("liveaggr").toFile.getAbsolutePath + "/t"

  /** Ground truth: stat every live file of `v` through the filesystem. */
  private def statTruth(root: String, v: Long): (Long, Long) = {
    val qroot = new Path(root)
    val fs = qroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Snapshots.versionFiles(spark, root, v)
    (files.size.toLong,
      files.map(f => fs.getFileStatus(new Path(qroot, f)).getLen).sum)
  }

  private def dmlMix(root: String, props: Map[String, String]): Long = {
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(2), props)
    (1 to 12).foreach { b =>
      Snapshots.append(spark, root,
        (1L to 20L).map(i => (b * 1000L + i, i * 2.0)).toDF("k", "v").repartition(2))
    }                                                // v1..v12 (ckpt v10)
    Snapshots.deleteWhere(spark, root, "k <= 10")    // v13: COW remove+add
    Snapshots.updateWhere(spark, root, Map("v" -> "v + 0.5"), "k > 11000") // v14
    Snapshots.optimizeCompact(spark, root, 1L << 30, 1L << 30) // v15: wide rewrite
    val preRestore = Snapshots.latestVersion(spark, root)
    Snapshots.append(spark, root, Seq((777777L, 1.0)).toDF("k", "v")) // v16
    Snapshots.restore(spark, root, preRestore)       // v17: re-adds removed paths
    (1 to 5).foreach { b =>
      Snapshots.append(spark, root,
        (1L to 5L).map(i => (50000L + b * 100L + i, i * 3.0)).toDF("k", "v"))
    }                                                // → past the v20 ckpt
    Snapshots.latestVersion(spark, root)
  }

  test("aggr parity with stat-every-file truth through a DML mix (plain parquet)") {
    val root = tmp()
    val head = dmlMix(root, Map(Snapshots.checkpointFormatProp -> "parquet"))
    assert(head >= 20L)
    // at the checkpoint version, one past it (tail adjustment), and head
    Seq(20L, 21L, head).foreach { v =>
      Snapshots.invalidateCaches(spark, root)
      val got = Snapshots.liveAggregate(spark, root, v)
      assert(got.isDefined, s"v$v must answer from the aggr header")
      assert(got.get == statTruth(root, v),
        s"v$v aggr ${got.get} != filesystem truth ${statTruth(root, v)}")
    }
  }

  test("aggr parity on a SIDECAR-manifest table") {
    val root = tmp()
    val head = dmlMix(root, Map(
      Snapshots.checkpointFormatProp -> "parquet",
      Snapshots.checkpointSidecarsProp -> "true",
      "graft.checkpoint.sidecar.spillRows" -> "20"))
    Seq(head / 10 * 10, head).distinct.foreach { v =>
      Snapshots.invalidateCaches(spark, root)
      val got = Snapshots.liveAggregate(spark, root, v)
      assert(got.isDefined && got.get == statTruth(root, v),
        s"sidecar v$v aggr $got != truth ${statTruth(root, v)}")
    }
  }

  test("sizeInBytes answers WITHOUT collecting the per-file live list") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1),
      Map(Snapshots.checkpointFormatProp -> "parquet"))
    (1 to 10).foreach { b =>
      Snapshots.append(spark, root,
        Seq((b * 1000L, 1.0)).toDF("k", "v").coalesce(1))
    }
    val head = Snapshots.latestVersion(spark, root)
    val truth = statTruth(root, head)._2 // before: versionFiles itself caches
    Snapshots.invalidateCaches(spark, root)
    val size = graft.sources.SnapshotPlanProbe.planSize(spark, root, head)
    val qroot = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
      .makeQualified(new Path(root)).toString
    assert(!Snapshots.liveMetaCacheKeys.contains((qroot, head)),
      "sizeInBytes must NOT have forced the O(files) liveFileMeta collect")
    assert(size == truth)
  }

  test("text-codec tables answer None and the per-file fallback serves") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 30L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1), Map.empty)
    (1 to 11).foreach { b =>
      Snapshots.append(spark, root,
        Seq((b * 100L, 1.0)).toDF("k", "v").coalesce(1))
    }
    val head = Snapshots.latestVersion(spark, root)
    assert(Snapshots.liveAggregate(spark, root, head).isEmpty)
    // the front door still answers sizeInBytes (via statuses)
    val size = graft.sources.SnapshotPlanProbe.planSize(spark, root, head)
    assert(size == statTruth(root, head)._2)
  }

  test("a transient header-read failure is retried, never cached as None") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 30L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1),
      Map(Snapshots.checkpointFormatProp -> "parquet"))
    (1 to 10).foreach { b =>
      Snapshots.append(spark, root, Seq((b * 100L, 1.0)).toDF("k", "v").coalesce(1))
    }
    val head = Snapshots.latestVersion(spark, root)
    val truth = statTruth(root, head)
    val qroot = new Path(root)
    val fs = qroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qrootStr = fs.makeQualified(qroot).toString
    // corrupt the nearest checkpoint: a plain FILE at its path keeps it
    // in the log listing but makes the header read throw mid-read —
    // exactly the shape of a vacuum racing the reader
    val ckpt = fs.listStatus(new Path(qroot, "_log"))
      .map(_.getPath).filter(_.getName.endsWith(".checkpoint.parquet"))
      .maxBy(_.getName)
    val aside = new Path(qroot, "ckpt_aside")
    Snapshots.invalidateCaches(spark, root)
    assert(fs.rename(ckpt, aside))
    fs.create(ckpt, false).close()
    try {
      assert(Snapshots.liveAggregate(spark, root, head).isEmpty,
        "a failing header read must answer None")
      assert(!Snapshots.liveAggrCacheKeys.contains((qrootStr, head)),
        "a None born of an exception must NOT be cached")
    } finally {
      fs.delete(ckpt, false)
      assert(fs.rename(aside, ckpt))
    }
    // the next query retries against the restored checkpoint and heals
    val got = Snapshots.liveAggregate(spark, root, head)
    assert(got.contains(truth), s"retry must answer $truth, got $got")
    assert(Snapshots.liveAggrCacheKeys.contains((qrootStr, head)))
  }

  test("debug invariants: an add naming a live path fails the checkpoint loudly") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 20L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1),
      Map(Snapshots.checkpointFormatProp -> "parquet"))
    (1 to 10).foreach { b =>
      Snapshots.append(spark, root, Seq((b * 10L, 1.0)).toDF("k", "v").coalesce(1))
    }
    val live = Snapshots.versionFiles(spark, root)
      .map(f => f.substring(f.indexOf("data/")))
    spark.conf.set("spark.graft.debug.invariants", "true")
    try {
      // re-add a LIVE path without a remove — the external-writer bug
      // the removed-only tombstones and the aggr roll-forward lean on
      // never happening; drive to the next checkpoint boundary
      Snapshots.commitMetadataOnlyAdds(spark, root, Seq(live.head), Map.empty)
      val e = intercept[IllegalStateException] {
        var v = Snapshots.latestVersion(spark, root)
        while (v % 10 != 0) {
          Snapshots.append(spark, root, Seq((9999L, 9.0)).toDF("k", "v").coalesce(1))
          v = Snapshots.latestVersion(spark, root)
        }
      }
      assert(e.getMessage.contains("add-names-live-path"))
    } finally spark.conf.unset("spark.graft.debug.invariants")
  }

  test("a boundary checkpoint that throws keeps the published commit's vector and feed") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 20L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1),
      Map(Snapshots.checkpointFormatProp -> "parquet"))
    (1 to 8).foreach { b =>
      Snapshots.append(spark, root, Seq((b * 100L, 1.0)).toDF("k", "v").coalesce(1))
    }
    val live = Snapshots.versionFiles(spark, root)
      .map(f => f.substring(f.indexOf("data/")))
    spark.conf.set("spark.graft.debug.invariants", "true")
    try {
      // v9 re-adds a live path, so the v10 checkpoint refuses to write
      Snapshots.commitMetadataOnlyAdds(spark, root, Seq(live.head), Map.empty)
      val e = intercept[IllegalStateException] {
        Snapshots.deleteWhereMor(spark, root, "k <= 5", changeFeed = true)
      }
      assert(e.getMessage.contains("add-names-live-path"))
    } finally spark.conf.unset("spark.graft.debug.invariants")
    // v10 was published before its checkpoint threw: what it names stays
    assert(Snapshots.latestVersion(spark, root) == 10L)
    val head = Snapshots.readDelta(spark, root, 10L)
    assert(head.dvAdd.exists(n => new java.io.File(root, s"_dv/$n").isDirectory),
      s"the vector of v10 is gone: ${head.dvAdd}")
    assert(head.cdf.exists(n => new java.io.File(root, s"_changes/$n").isDirectory),
      s"the feed of v10 is gone: ${head.cdf}")
    val keys = Snapshots.readVersion(spark, root).select("k").as[Long].collect().toSet
    assert(keys.nonEmpty && !keys.exists(_ <= 5L))
    assert(Snapshots.changesBetween(spark, root, 9L, 10L).select("k").as[Long]
      .collect().toSet == (1L to 5L).toSet)
  }

  test("debug invariants: a legit re-add (remove then add) checkpoints fine") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 20L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1),
      Map(Snapshots.checkpointFormatProp -> "parquet"))
    (1 to 12).foreach { b =>
      Snapshots.append(spark, root, Seq((b * 10L, 1.0)).toDF("k", "v").coalesce(1))
    }
    spark.conf.set("spark.graft.debug.invariants", "true")
    try {
      val preRestore = Snapshots.latestVersion(spark, root)
      Snapshots.deleteWhere(spark, root, "k <= 5") // removes + re-adds survivors
      Snapshots.restore(spark, root, preRestore)   // re-adds the removed paths
      var v = Snapshots.latestVersion(spark, root)
      while (v % 10 != 0) {
        Snapshots.append(spark, root, Seq((8888L, 8.0)).toDF("k", "v").coalesce(1))
        v = Snapshots.latestVersion(spark, root)
      }
      // boundary checkpoint landed without tripping the invariant check
      assert(Snapshots.liveAggregate(spark, root, v).isDefined)
    } finally spark.conf.unset("spark.graft.debug.invariants")
  }

  test("auto-codec decision consumes the aggr count O(change)") {
    val root = tmp()
    Snapshots.init(spark, root, Seq((0L, 0.0)).toDF("k", "v").coalesce(1),
      Map(Snapshots.checkpointFormatProp -> "auto",
        "graft.checkpoint.autoThreshold" -> "5"))
    (1 to 25).foreach { b =>
      Snapshots.append(spark, root,
        Seq((b * 10L, 1.0)).toDF("k", "v").coalesce(1))
    }
    val head = Snapshots.latestVersion(spark, root)
    // past the threshold the checkpoints are parquet and carry aggr
    Snapshots.invalidateCaches(spark, root)
    val got = Snapshots.liveAggregate(spark, root, head)
    assert(got.isDefined && got.get == statTruth(root, head))
  }

  /** Corrupt the `aggr` header of checkpoint `v` IN PLACE (read the
    * `_headers/` side directory, patch the hval, swap the directory) —
    * simulates roll-forward drift from an external writer. */
  private def corruptAggrHeader(root: String, v: Long): Unit = {
    val hdrs = new Path(root, f"_log/v$v%08d.checkpoint.parquet/_headers")
    val fs = hdrs.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(hdrs), s"fixture expects a split-layout checkpoint at v$v")
    val rows = spark.read.parquet(hdrs.toString)
    val patched = rows.withColumn("hval",
      when(col("kind") === "header" && col("hkey") === "aggr", lit("7,777"))
        .otherwise(col("hval")))
    val tmpDir = new Path(hdrs.getParent, "_headers_tmp")
    patched.write.mode("overwrite").parquet(tmpDir.toString)
    fs.delete(hdrs, true)
    fs.rename(tmpDir, hdrs)
  }

  test("plain-codec boundary self-heals a drifted rolled-forward aggr (observed wins)") {
    val root = tmp()
    // inlineBelow=0 forces the two-job split layout (observed metrics
    // ride job 1) on every boundary
    Snapshots.init(spark, root,
      (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(2),
      Map(Snapshots.checkpointFormatProp -> "parquet",
        "graft.checkpoint.inlineBelow" -> "0"))
    (1 to 10).foreach(b =>
      Snapshots.append(spark, root, Seq((1000L + b, 2.0)).toDF("k", "v").coalesce(1)))
    corruptAggrHeader(root, 10L)
    Snapshots.invalidateCaches(spark, root)
    val drifted = Snapshots.liveAggregate(spark, root, 10L)
    assert(drifted.exists(_ != statTruth(root, 10L)),
      s"fixture must actually drift: $drifted vs ${statTruth(root, 10L)}")
    // the NEXT boundary (v20) prefers the metrics observed on the
    // actually-written live frame: the drift is repaired, not rolled
    // forward forever
    (1 to 10).foreach(b =>
      Snapshots.append(spark, root, Seq((2000L + b, 3.0)).toDF("k", "v").coalesce(1)))
    Snapshots.invalidateCaches(spark, root)
    val healed = Snapshots.liveAggregate(spark, root, 20L)
    assert(healed.contains(statTruth(root, 20L)),
      s"v20 header must carry the observed truth: $healed vs ${statTruth(root, 20L)}")
    // the breach lands in the WARN fallback ring (a pathology signal),
    // not the INFO maintenance ring (amortized work) — r18 ADVICE
    assert(Snapshots.fallbackEvents.toArray.exists(
      _.toString.contains("aggr drift")), "the repair must be WARN-noted")
  }

  test("debug-invariants mode fails LOUDLY on aggr drift instead of repairing silently") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 30L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(2),
      Map(Snapshots.checkpointFormatProp -> "parquet",
        "graft.checkpoint.inlineBelow" -> "0"))
    (1 to 10).foreach(b =>
      Snapshots.append(spark, root, Seq((1000L + b, 2.0)).toDF("k", "v").coalesce(1)))
    corruptAggrHeader(root, 10L)
    Snapshots.invalidateCaches(spark, root)
    spark.conf.set("spark.graft.debug.invariants", "true")
    try {
      val e = intercept[Snapshots.InvariantViolation] {
        (1 to 10).foreach(b =>
          Snapshots.append(spark, root, Seq((2000L + b, 3.0)).toDF("k", "v").coalesce(1)))
      }
      assert(e.getMessage.contains("aggr drift"), e.getMessage)
    } finally spark.conf.unset("spark.graft.debug.invariants")
  }
}
