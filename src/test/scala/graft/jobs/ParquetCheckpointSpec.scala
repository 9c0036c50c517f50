package graft.jobs

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Columnar (parquet) checkpoints — `graft.checkpoint.format = parquet`:
  * the checkpoint is a parquet directory (one `CkptRow` per live file +
  * header rows), written INCREMENTALLY from the previous checkpoint plus
  * the tail deltas, and stats pruning evaluates as a DISTRIBUTED
  * DataFrame filter collecting only surviving paths. Pins: exact parity
  * with from-v0 delta replay (file-for-file), distributed-vs-driver
  * prune equality across all four envelope families, front-door plan
  * shrinkage, the `parquetCheckpoint` reader-feature gate, and header
  * survival (maxtxn) across vacuum. */
class ParquetCheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("pqckpt").toFile.getAbsolutePath + "/t"

  private def logNames(root: String): Seq[String] = {
    val p = new Path(root + "/_log")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq.map(_.getPath.getName)
  }

  test("liveMetaCache evicts per-entry LRU within its row budget — hot versions survive a 9-table sweep") {
    // 9 tiny parquet-checkpoint tables (init lands the v0 checkpoint);
    // each entry weighs 1 row, and the budget admits 8 — the r17 cache
    // bounds TOTAL ROWS, not entry count
    val roots = (1 to 9).map { i =>
      val r = tmp()
      Snapshots.init(spark, r, Seq((i.toLong, 1.0)).toDF("k", "v").coalesce(1),
        Map(Snapshots.checkpointFormatProp -> "parquet"))
      r
    }
    spark.conf.set("spark.graft.meta.cacheRows", "8")
    try {
      // warm 8 entries, re-touch the first (now most-recent), then insert
      // the 9th: the LRU entry (table 2) must be the one evicted — a
      // wholesale clear() would dump table 1 too and re-collect it
      roots.take(8).foreach(r => assert(Snapshots.liveFileMeta(spark, r, 0L).nonEmpty))
      assert(Snapshots.liveFileMeta(spark, roots(0), 0L).nonEmpty)
      assert(Snapshots.liveFileMeta(spark, roots(8), 0L).nonEmpty)
      val keys = Snapshots.liveMetaCacheKeys.map(_._1)
      assert(Snapshots.liveMetaCacheRows <= 8,
        s"cache must stay inside its row budget, got ${Snapshots.liveMetaCacheRows}")
      assert(keys.exists(_.endsWith(roots(0))), "the re-touched entry must survive")
      assert(!keys.exists(_.endsWith(roots(1))), "the least-recently-used entry is evicted")
      assert(keys.exists(_.endsWith(roots(8))), "the new entry lands")
    } finally spark.conf.unset("spark.graft.meta.cacheRows")
  }

  test("partition envelopes BAKE into checkpoint rows; stripped (legacy) rows fall back per row") {
    val root = tmp()
    Snapshots.init(spark, root,
      (0L until 60L).map(i => (i, i % 6, i * 1.0)).toDF("k", "p", "v").repartition(3),
      Map(Snapshots.checkpointFormatProp -> "parquet", "graft.partitionBy" -> "p"))
    (1 to 10).foreach(b => Snapshots.append(spark, root,
      (0L until 30L).map(i => (b * 1000L + i, i % 6, i * 2.0))
        .toDF("k", "p", "v").repartition(2)))
    val head = Snapshots.latestVersion(spark, root)
    // (a) every file row bakes the partition value as a point envelope —
    // the distributed prune needs no path parsing on these rows
    val ckPath = f"$root/_log/v${head / 10 * 10}%08d.checkpoint.parquet"
    val allBaked = spark.read.parquet(ckPath).filter(col("kind") === "file")
      .select(element_at(col("lmin"), "p").isNotNull.as("has"))
      .agg(min(col("has"))).head.getBoolean(0)
    assert(allBaked, "every file row must bake the partition value as a point envelope")
    val pred = "p = 3 AND k >= 1000"
    def prune(): (Seq[String], Seq[String]) = {
      val dist = Snapshots.statsCandidateFiles(spark, root, head, pred)
      spark.conf.set("spark.graft.prune.distributed", "never")
      val drv =
        try Snapshots.statsCandidateFiles(spark, root, head, pred)
        finally spark.conf.unset("spark.graft.prune.distributed")
      (dist, drv)
    }
    val (d1, r1) = prune()
    assert(d1 == r1, "baked: distributed == driver")
    assert(d1.nonEmpty && d1.size < Snapshots.versionFiles(spark, root, head).size,
      "the partition conjunct must genuinely prune")
    // (b) strip the baked envelopes from every checkpoint — simulating a
    // pre-bake (legacy) checkpoint — and re-prune: the per-row UDF
    // fallback must reproduce the exact same file set
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    logNames(root).filter(_.endsWith(".checkpoint.parquet")).foreach { n =>
      val p = s"$root/_log/$n"
      val stripped = spark.read.parquet(p)
        .withColumn("lmin", map_filter(col("lmin"), (k, _) => k =!= "p"))
        .withColumn("lmax", map_filter(col("lmax"), (k, _) => k =!= "p"))
        .withColumn("nulls", map_filter(col("nulls"), (k, _) => k =!= "p"))
      stripped.write.mode("overwrite").parquet(s"$p.strip")
      fs.delete(new Path(p), true)
      fs.rename(new Path(s"$p.strip"), new Path(p))
    }
    Snapshots.invalidateCaches(spark, root)
    val (d2, r2) = prune()
    assert(d2 == d1, "stripped (legacy) distributed prune must equal the baked one")
    assert(d2 == r2, "stripped: distributed == driver")
  }

  /** ~30 commits mixing appends, COW delete/update, MOR delete +
    * materialization, merge, schema evolution (ADD COLUMN DEFAULT +
    * RENAME — the checkpoint's stats keys are PHYSICAL names),
    * OPTIMIZE and a RESTORE (which re-ADDS previously removed paths —
    * the case that forces per-delta in-order tail replay in the
    * incremental build). */
  private def drive(root: String, props: Map[String, String]): Unit = {
    Snapshots.init(spark, root,
      (1L to 200L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(2), props)
    (1 to 8).foreach { b =>
      Snapshots.append(spark, root,
        (1L to 50L).map(i => (200L + b * 100L + i, i * 2.0)).toDF("k", "v"))
    }                                               // v1..v8
    Snapshots.deleteWhere(spark, root, "k <= 20")   // v9
    Snapshots.updateWhere(spark, root, Map("v" -> "v + 0.5"), "k > 1000") // v10 → ckpt
    Snapshots.optimizeCompact(spark, root, 1L << 30, 1L << 30) // v11
    val preRestore = Snapshots.latestVersion(spark, root)
    Snapshots.append(spark, root, Seq((9001L, 1.0)).toDF("k", "v")) // v12
    Snapshots.restore(spark, root, preRestore)      // v13: re-adds v11's files
    (1 to 9).foreach { b =>
      Snapshots.append(spark, root,
        (1L to 30L).map(i => (20000L + b * 100L + i, i * 3.0)).toDF("k", "v"))
    }                                               // v14..v22 (ckpt at v20)
    // MOR + merge + evolution across the NEXT checkpoint boundary
    Snapshots.deleteWhereMor(spark, root, "k % 97 = 5")      // v23: DV
    Snapshots.addColumnDefault(spark, root, "tier",
      org.apache.spark.sql.types.StringType, "'std'")        // v24
    Snapshots.mergeCow(spark, root,
      Seq((50000L, 1.0, "gold"), (100L, -1.0, "gold"))
        .toDF("k", "v", "tier"), Seq("k"))                   // v25
    Snapshots.materializeDeletionVectors(spark, root)        // v26
    Snapshots.renameColumn(spark, root, "v", "val")          // v27: column mapping
    (1 to 4).foreach(b => Snapshots.append(spark, root,
      Seq((60000L + b, b * 1.0, "live")).toDF("k", "val", "tier"))) // v28..v31 (ckpt v30)
  }

  test("incremental parquet checkpoints reconstruct EXACTLY the delta replay") {
    val root = tmp()
    drive(root, Map(Snapshots.checkpointFormatProp -> "parquet"))
    val head = Snapshots.latestVersion(spark, root)
    assert(head >= 30L)
    // checkpoints landed in the parquet codec, and ONLY that codec
    assert(logNames(root).exists(_.endsWith(".checkpoint.parquet")))
    assert(!logNames(root).exists(_.endsWith(".checkpoint")),
      "a parquet-mode table must not write text checkpoints")
    // the v20/v30 checkpoints were built incrementally; a from-v0 pure
    // delta replay is the ground truth — file-for-file identical
    val viaCkpt = (0L to head).map(v => Snapshots.versionFiles(spark, root, v))
    val rowsViaCkpt = Snapshots.readVersion(spark, root)
      .select("k", "val", "tier")
      .orderBy("k").as[(Long, Double, String)].collect().toSeq
    val p = new Path(root + "/_log")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    logNames(root).filter(_.endsWith(".checkpoint.parquet"))
      .foreach(n => fs.delete(new Path(p, n), true))
    Snapshots.invalidateCaches(spark, root)
    val viaReplay = (0L to head).map(v => Snapshots.versionFiles(spark, root, v))
    assert(viaCkpt == viaReplay,
      "checkpoint-based reconstruction must equal from-v0 replay at EVERY version")
    assert(Snapshots.readVersion(spark, root)
      .select("k", "val", "tier")
      .orderBy("k").as[(Long, Double, String)].collect().toSeq == rowsViaCkpt)
  }

  test("distributed prune == driver prune, all four envelope families") {
    val root = tmp()
    // clustered layout: each append covers a distinct k-range, so
    // envelopes genuinely prune; strings/doubles/nulls ride along
    Snapshots.init(spark, root,
      (0L until 100L).map(i => (i, i * 1.0, f"s$i%04d", if (i % 2 == 0) Some(i) else None))
        .toDF("k", "v", "s", "n").coalesce(1),
      Map(Snapshots.checkpointFormatProp -> "parquet"))
    (1 to 12).foreach { b =>
      Snapshots.append(spark, root,
        (0L until 100L).map(i => (b * 100L + i, (b * 100 + i) * 1.0,
          f"s${b * 100 + i}%04d", if (i % 2 == 0) Some(i) else None))
          .toDF("k", "v", "s", "n").coalesce(1))
    }
    val v = Snapshots.latestVersion(spark, root)
    val preds = Seq(
      "k BETWEEN 320 AND 340",          // long family
      "v >= 550.0 AND v < 600.0",       // double family
      "s >= 's0700' AND s <= 's0750'",  // string family
      "k BETWEEN 100 AND 199 AND n IS NOT NULL", // null family composes
      "k > 99999",                       // prunes everything
      "k >= 0")                          // prunes nothing
    preds.foreach { pred =>
      val dist = Snapshots.statsCandidateFiles(spark, root, v, pred)
      spark.conf.set("spark.graft.prune.distributed", "never")
      val drv =
        try Snapshots.statsCandidateFiles(spark, root, v, pred)
        finally spark.conf.unset("spark.graft.prune.distributed")
      assert(dist == drv, s"distributed vs driver prune diverged for: $pred")
    }
    // and the pruning is real: a tight range keeps a strict subset
    val tight = Snapshots.statsCandidateFiles(spark, root, v, "k BETWEEN 320 AND 340")
    assert(tight.nonEmpty &&
      tight.size < Snapshots.versionFiles(spark, root, v).size)
    // metadata-only COUNT(*) answers from one distributed aggregate
    // over the checkpoint rows (never an O(files) driver sum)
    assert(Snapshots.rowCount(spark, root) == Some(1300L))
  }

  test("distributed prune == driver prune on a PARTITIONED table") {
    val root = tmp()
    // the reference's own storage model (year=/month= Hive layout, ref
    // scripts/02_spark_etl.py:140-144) — partition values are
    // path-encoded point envelopes, derived EXECUTOR-SIDE on the
    // distributed path and driver-side on the fallback; both must
    // select the identical file set for every predicate family
    Snapshots.init(spark, root,
      (0L until 60L).map(i => (2020L + i % 3, 1L + i % 4, i, i * 1.0))
        .toDF("year", "month", "k", "v").repartition(2),
      Map("graft.partitionBy" -> "year,month",
        Snapshots.checkpointFormatProp -> "parquet"))
    (1 to 12).foreach { b =>
      Snapshots.append(spark, root,
        (0L until 30L).map(i => (2020L + (b + i) % 3, 1L + i % 4,
          b * 100L + i, (b * 100 + i) * 1.0))
          .toDF("year", "month", "k", "v").coalesce(1))
    }
    val v = Snapshots.latestVersion(spark, root)
    val preds = Seq(
      "year = 2021",                      // partition point envelope alone
      "year = 2021 AND month <= 2",       // two partition dimensions
      "year >= 2022 AND k BETWEEN 300 AND 400", // partition × data stats
      "month = 9",                        // prunes everything
      "year <= 2022")                     // prunes nothing
    preds.foreach { pred =>
      val dist = Snapshots.statsCandidateFiles(spark, root, v, pred)
      spark.conf.set("spark.graft.prune.distributed", "never")
      val drv =
        try Snapshots.statsCandidateFiles(spark, root, v, pred)
        finally spark.conf.unset("spark.graft.prune.distributed")
      assert(dist == drv, s"partitioned distributed vs driver prune diverged for: $pred")
    }
    // the partition envelope genuinely prunes on the distributed path
    val tight = Snapshots.statsCandidateFiles(spark, root, v, "year = 2021")
    assert(tight.nonEmpty &&
      tight.size < Snapshots.versionFiles(spark, root, v).size)
    assert(Snapshots.statsCandidateFiles(spark, root, v, "month = 9").isEmpty)
    // and a partitioned COW delete keeps exact rows (victims selected
    // through the distributed prune)
    val before = Snapshots.readVersion(spark, root)
      .filter("NOT (year = 2020 AND k < 50)").count()
    Snapshots.deleteWhere(spark, root, "year = 2020 AND k < 50")
    assert(Snapshots.readVersion(spark, root).count() == before)
  }

  test("the front door plans fewer files through the parquet checkpoint") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 4000L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(8),
      Map(Snapshots.checkpointFormatProp -> "parquet"))
    Snapshots.optimizeCow(spark, root, Seq("k"), 8)
    (1 to 9).foreach(b => Snapshots.append(spark, root,
      (1L to 10L).map(i => (4000L + b * 10L + i, 0.0)).toDF("k", "v").coalesce(1)))
    val all = Snapshots.versionFiles(spark, root)
    val q = spark.read.format("graft.sources.SnapshotSource").load(root)
      .where(col("k").between(100, 199)).select("k")
    assert(q.as[Long].collect().toSet == (100L to 199L).toSet)
    val planned = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case pl => pl
    }
    val scan = planned.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    assert(scan.metrics("numFiles").value < all.size,
      s"planned ${scan.metrics("numFiles").value} of ${all.size} files")
  }

  test("parquetCheckpoint gates as a reader feature; DML and vacuum compose") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 300L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(3),
      Map(Snapshots.checkpointFormatProp -> "parquet"))
    val (_, _, rfeat, wfeat) = Snapshots.protocol(spark, root)
    assert(rfeat.contains("parquetCheckpoint") && wfeat.contains("parquetCheckpoint"),
      s"feature must gate both sides: $rfeat / $wfeat")
    // MOR + COW DML on a parquet-checkpoint table behave identically
    Snapshots.deleteWhereMor(spark, root, "k % 50 = 0")
    Snapshots.updateWhere(spark, root, Map("v" -> "v * 2"), "k <= 10")
    assert(Snapshots.readVersion(spark, root).count() == 294)
    assert(Snapshots.readVersion(spark, root)
      .where(col("k") <= 10).agg(sum("v")).head().getDouble(0) == 110.0)
    // streaming txn ids survive vacuum through the parquet header rows
    (1 to 9).foreach(b => Snapshots.commitStreamingBatch(spark, root,
      Seq((1000L + b, 1.0)).toDF("k", "v"), b))
    val head = Snapshots.latestVersion(spark, root)
    assert(head >= 10L, s"expected a checkpointed version, got $head")
    Snapshots.vacuum(spark, root, head)
    assert(Snapshots.lastCommittedBatch(spark, root) == 9L,
      "the #maxtxn header must survive history truncation in the parquet codec")
    assert(Snapshots.readVersion(spark, root).count() == 303)
    // pre-floor checkpoints (both codecs) are gone; the floor's remains
    val ckpts = logNames(root).filter(_.contains(".checkpoint"))
    assert(ckpts.nonEmpty && ckpts.forall(_.endsWith(".checkpoint.parquet")))
    // a refreshed prop commit keeps the format valid; garbage refuses
    intercept[IllegalArgumentException](
      Snapshots.setProperties(spark, root,
        Map(Snapshots.checkpointFormatProp -> "csv")))
  }

  test("COPY INTO idempotence rides the parquet checkpoint's copied rows") {
    // the skip check on a parquet-checkpoint table is a pushed-filter
    // lookup over the checkpoint's copied header rows — O(landing set)
    // driver memory — and must behave exactly like the text-codec set:
    // re-runs skip, post-checkpoint ingests skip through the header,
    // vacuum can't resurrect a double-load
    val base = Files.createTempDirectory("pqcopy").toFile.getAbsolutePath
    val root = s"$base/t"; val landing = s"$base/landing"
    Snapshots.init(spark, root, Seq((0L, 0.0)).toDF("k", "v"),
      Map(Snapshots.checkpointFormatProp -> "parquet"))
    (1L to 3L).foreach(i => Seq((i, i * 1.0)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$landing/b$i"))
    val r1 = Snapshots.copyInto(spark, root, landing)
    assert(r1.filesLoaded == 3L && r1.rowsInserted == 3L)
    assert(Snapshots.copyInto(spark, root, landing).filesSkipped == 3L)
    // drive past a checkpoint so the copied markers ride the PARQUET
    // header rows, then vacuum the ingesting deltas away
    (1 to 10).foreach(b => Snapshots.append(spark, root,
      Seq((100L + b, 0.0)).toDF("k", "v")))
    val head = Snapshots.latestVersion(spark, root)
    Snapshots.vacuum(spark, root, head)
    val r3 = Snapshots.copyInto(spark, root, landing)
    assert(r3.filesLoaded == 0L && r3.filesSkipped == 3L,
      "the parquet checkpoint's copied rows must survive history truncation")
    // a NEW landing file still loads incrementally
    Seq((4L, 4.0)).toDF("k", "v").coalesce(1).write.parquet(s"$landing/b4")
    val r4 = Snapshots.copyInto(spark, root, landing)
    assert(r4.filesLoaded == 1L && r4.filesSkipped == 3L)
    assert(Snapshots.readVersion(spark, root).count() == 15)
  }

  test("a copied-identity set past inlineBelow leaves the one-file layout across cold boundaries") {
    // COPY INTO batches each under the bound must not accumulate a
    // copied set past it in the one-file layout, even when every
    // boundary misses the in-process memo: the layout follows the
    // copied COUNT each checkpoint records
    val base = Files.createTempDirectory("pqcopyind").toFile.getAbsolutePath
    val root = s"$base/t"
    val bound = 5
    Snapshots.init(spark, root, Seq((0L, 0.0)).toDF("k", "v").coalesce(1),
      Map(Snapshots.checkpointFormatProp -> "parquet",
        "graft.checkpoint.inlineBelow" -> bound.toString))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val boundaries = (1 to 3).map { b =>
      // one COPY INTO batch of 3 identities, then compaction keeps the
      // LIVE count small, so only the copied count can steer the layout
      (1 to 3).foreach(i => Seq((b * 10L + i, 1.0)).toDF("k", "v").coalesce(1)
        .write.parquet(s"$base/landing/b$b-$i"))
      assert(Snapshots.copyInto(spark, root, s"$base/landing").filesLoaded == 3L)
      Snapshots.optimizeCompact(spark, root, 1L << 30)
      while ((Snapshots.latestVersion(spark, root) + 1) % 10 != 0)
        Snapshots.setProperties(spark, root, Map("comment" -> "pad"))
      // every boundary misses the in-process memo
      Snapshots.invalidateCaches(spark, root)
      val v = Snapshots.setProperties(spark, root, Map("comment" -> s"boundary $b"))
      val copied = Snapshots.copiedUpTo(spark, root, v).size
      val split = fs.exists(new Path(root, f"_log/v$v%08d.checkpoint.parquet/_headers"))
      assert(split == (copied > bound),
        s"v$v holds $copied copied identities (bound $bound): split layout = $split")
      (v, copied, split)
    }
    assert(boundaries.map(_._2) == Seq(3, 6, 9))
    boundaries.foreach { case (v, copied, split) =>
      val pq = f"$root/_log/v$v%08d.checkpoint.parquet"
      val shape = spark.read.parquet(if (split) s"$pq/_headers" else pq)
        .filter(col("kind") === "header" && col("hkey") === "shape")
        .select("hval").as[String].collect()
      assert(shape.length == 1, s"v$v must record one shape row: ${shape.toSeq}")
      val Array(layout, _, recorded) = shape.head.split(",", -1)
      assert(layout == (if (split) "split" else "inline") && recorded.toLong == copied,
        s"v$v shape ${shape.head} vs $copied copied identities")
    }
    assert(Snapshots.readVersion(spark, root).count() == 10L)
  }

  test("the streaming tail replays a parquet-checkpoint table exactly") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v"),
      Map(Snapshots.checkpointFormatProp -> "parquet"))
    (1 to 12).foreach(b => Snapshots.append(spark, root,
      Seq((100L + b, b * 1.0)).toDF("k", "v")))
    val base = root.stripSuffix("/t")
    spark.readStream.format("graft.sources.SnapshotSource")
      .option("skipRewrites", "true").load(root)
      .writeStream.format("parquet").option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val streamed = spark.read.parquet(s"$base/sink")
    assert(streamed.count() == 62)
    assert(streamed.agg(sum("k")).head().getLong(0) ==
      (1L to 50L).sum + (1 to 12).map(100L + _).sum)
  }

  test("a 4-writer storm on a parquet-checkpoint table keeps every invariant") {
    // checkpoint publication (skip-if-exists + tmp rename) racing
    // commits, MOR deletes, materialization and vacuum — the columnar
    // codec must hold the same invariants the text codec's storm pins
    val root = tmp()
    Snapshots.init(spark, root,
      (0L until 500L).map(i => (i, i * 1.0)).toDF("k", "v"),
      Map(Snapshots.checkpointFormatProp -> "parquet"))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val nextBatch = new java.util.concurrent.atomic.AtomicLong(0L)
    def guard(body: => Unit): Unit =
      try body catch {
        case e: IllegalArgumentException if e.getMessage != null &&
            (e.getMessage.contains("commit race") ||
              e.getMessage.contains("nothing to do")) => ()
        case e: IllegalStateException if e.getMessage != null &&
            e.getMessage.contains("rewrite conflict") => ()
        case e: Throwable => failures.add(e)
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val done = new java.util.concurrent.CountDownLatch(4)
    def worker(body: => Unit): Unit = pool.submit(new Runnable {
      override def run(): Unit =
        try while (!stop.get()) body finally done.countDown()
    })
    for (_ <- 0 until 2) worker {
      val b = nextBatch.getAndIncrement()
      val lo = 1000000L + b * 20L
      guard {
        Snapshots.append(spark, root,
          (lo until lo + 20L).map(i => (i, 1.0)).toDF("k", "v"))
        batches.add(b)
      }
    }
    val delRound = new java.util.concurrent.atomic.AtomicLong(0L)
    worker {
      val r = delRound.getAndIncrement()
      guard {
        if (r % 3 == 2) Snapshots.materializeDeletionVectors(spark, root)
        else Snapshots.deleteWhereMor(spark, root,
          s"k >= ${(r * 11) % 450} AND k < ${(r * 11) % 450 + 3}")
      }
    }
    worker {
      guard {
        val head = Snapshots.latestVersion(spark, root)
        if (head > 25) Snapshots.vacuum(spark, root, head - 20)
        else Snapshots.optimizeCompact(spark, root, 32L * 1024, 1L << 20)
      }
    }
    Thread.sleep(6000L)
    stop.set(true)
    assert(done.await(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    val firstFailure = Option(failures.peek()).map(e =>
      s"${e.getClass.getName}: ${e.getMessage}").getOrElse("")
    assert(failures.isEmpty, firstFailure)
    val vs = Snapshots.versions(spark, root)
    assert(vs == (vs.min to vs.max), s"log has gaps: $vs")
    val head = Snapshots.readVersion(spark, root)
    val keys = head.where(col("k") >= 1000000L).select("k")
      .as[Long].collect().toSet
    batches.forEach { b =>
      val lo = 1000000L + b * 20L
      (lo until lo + 20L).foreach(k => assert(keys.contains(k),
        s"append batch $b committed but key $k missing"))
    }
    // every surviving version reconstructs through the columnar codec
    vs.foreach(v => assert(Snapshots.readVersion(spark, root, v).count() >= 0L))
    assert(Snapshots.statsMissingFromLog(spark, root).isEmpty)
  }

  test("vacuumDebris reclaims a crashed parquet-checkpoint tmp DIRECTORY") {
    val root = tmp()
    Snapshots.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"),
      Map(Snapshots.checkpointFormatProp -> "parquet"))
    // simulate a writer that died mid-checkpoint: a tmp DIR with a file
    val p = new Path(root + "/_log/.v00000010-ckpt-pq-deadbeef.tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    val out = fs.create(new Path(p, "part-00000.parquet"), false)
    out.write("junk".getBytes("UTF-8")); out.close()
    // young debris is protected, aged debris goes (dir-grain)
    assert(Snapshots.vacuumDebris(spark, root, olderThanMs = 60000L) == 0)
    assert(fs.exists(p))
    assert(Snapshots.vacuumDebris(spark, root, olderThanMs = -1L) >= 1)
    assert(!fs.exists(p), "the crashed checkpoint's tmp dir must be reclaimed")
    // and the live checkpoint was never touched
    assert(fs.exists(new Path(root + "/_log/v00000000.checkpoint.parquet")))
    assert(Snapshots.readVersion(spark, root).count() == 1)
  }

  test("auto checkpoint format: text while small, parquet once big, exact throughout") {
    val root = tmp()
    // threshold 25: the first checkpoint (v10, ~11 files) stays text;
    // wide appends push the live count past 25 before v20, which lands
    // as the table's first PARQUET checkpoint — one table, both regimes
    Snapshots.init(spark, root, Seq((0L, 0.0)).toDF("k", "v"),
      Map(Snapshots.checkpointFormatProp -> "auto",
        "graft.checkpoint.autoThreshold" -> "25"))
    (1 to 9).foreach { b =>
      Snapshots.append(spark, root,
        Seq((b * 100L, b * 1.0)).toDF("k", "v").coalesce(1))
    } // v9: 10 files
    Snapshots.append(spark, root, Seq((10000L, 1.0)).toDF("k", "v")) // v10
    assert(logNames(root).exists(_ == "v00000010.checkpoint"),
      "below the threshold an auto table checkpoints as TEXT")
    (11 to 20).foreach { b =>
      Snapshots.append(spark, root,
        (0L until 3L).map(i => (b * 100L + i, i * 1.0)).toDF("k", "v")
          .repartition(3))
    } // +30 files by v20 → count ≥ 25 at the v20 checkpoint
    assert(logNames(root).exists(_ == "v00000020.checkpoint.parquet"),
      "past the threshold the SAME auto table checkpoints as PARQUET")
    // the parquet regime serves the distributed paths: prune parity
    val head = Snapshots.latestVersion(spark, root)
    val dist = Snapshots.statsCandidateFiles(spark, root, head, "k BETWEEN 1100 AND 1400")
    spark.conf.set("spark.graft.prune.distributed", "never")
    val drv =
      try Snapshots.statsCandidateFiles(spark, root, head, "k BETWEEN 1100 AND 1400")
      finally spark.conf.unset("spark.graft.prune.distributed")
    assert(dist == drv && dist.nonEmpty)
    // reconstruction across the regime flip equals a from-v0 replay
    val viaCkpt = (0L to head).map(v => Snapshots.versionFiles(spark, root, v))
    val p = new Path(root + "/_log")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    logNames(root).filter(n => n.endsWith(".checkpoint") || n.endsWith(".checkpoint.parquet"))
      .foreach(n => fs.delete(new Path(p, n), true))
    Snapshots.invalidateCaches(spark, root)
    assert((0L to head).map(v => Snapshots.versionFiles(spark, root, v)) == viaCkpt)
    // an auto table stamps the reader feature up front — a text-only
    // build must refuse before it can miss a future parquet manifest
    val (_, _, rfeat, _) = Snapshots.protocol(spark, root)
    assert(rfeat.contains("parquetCheckpoint"))
    // and OPTIMIZE shrinking the table below the threshold flips the
    // NEXT checkpoint back to text (hysteresis-free by design: both
    // directions are exact, only relative cost differs)
    Snapshots.optimizeCompact(spark, root, 1L << 30, 1L << 30)
    val at = Snapshots.latestVersion(spark, root)
    ((at + 1) to (at + (10 - at % 10))).foreach { _ =>
      Snapshots.append(spark, root, Seq((99999L, 9.0)).toDF("k", "v"))
    }
    val ckptV = Snapshots.latestVersion(spark, root) / 10 * 10
    assert(logNames(root).exists(_ == f"v$ckptV%08d.checkpoint"),
      "an auto table shrunk below the threshold checkpoints as TEXT again")
  }

  test("the stale-checkpoint gate trips VISIBLY (WARN + event ring)") {
    val root = tmp()
    Snapshots.init(spark, root, Seq((0L, 0.0)).toDF("k", "v"),
      Map(Snapshots.checkpointFormatProp -> "parquet"))
    (1 to 51).foreach { c => // head v51: a 41-delta tail past v10 > the 40 bound
      val rel = f"data/ghost-$c%05d.parquet"
      Snapshots.commitMetadataOnlyAdds(spark, root, Seq(rel),
        Map(rel -> graft.core.Skipping.FileStats(rel, 10L,
          Map("k" -> c * 100L), Map("k" -> (c * 100L + 99L)),
          Map.empty, Map.empty, Map.empty, Map.empty, Map("k" -> 0L))),
        Map(rel -> (1024L, 1L)))
    }
    val head = Snapshots.latestVersion(spark, root)
    // simulate a crashed checkpointer: every checkpoint past v10 vanishes
    val p = new Path(root + "/_log")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    logNames(root).filter(n => n.endsWith(".checkpoint.parquet") &&
        n.stripPrefix("v").takeWhile(_.isDigit).toLong > 10L)
      .foreach(n => fs.delete(new Path(p, n), true))
    Snapshots.invalidateCaches(spark, root)
    Snapshots.fallbackEvents.clear()
    val kept = Snapshots.statsCandidateFiles(spark, root, head, "k BETWEEN 1200 AND 1450")
    assert(kept == Seq("data/ghost-00012.parquet", "data/ghost-00013.parquet",
      "data/ghost-00014.parquet"),
      "the driver fallback still prunes exactly")
    val events = Snapshots.fallbackEvents.toArray.map(_.toString)
    assert(events.exists(e => e.contains("stale-checkpoint gate") && e.contains("v10")),
      s"the 40-delta tail past v10 must be diagnosable from the log; got: ${events.mkString(" | ")}")
  }

  test("a text table FLIPS to parquet checkpoints mid-life and stays exact") {
    val root = tmp()
    drive(root, Map.empty) // text codec for the first ~31 commits
    assert(logNames(root).exists(_.endsWith(".checkpoint")))
    val before = Snapshots.readVersion(spark, root)
      .agg(count(lit(1)), sum("val")).head()
    Snapshots.setProperties(spark, root,
      Map(Snapshots.checkpointFormatProp -> "parquet"))
    (1 to 10).foreach(b => Snapshots.append(spark, root,
      Seq((90000L + b, 0.25, "new")).toDF("k", "val", "tier")))
    // the next checkpoint landed columnar (full build over the text base)
    assert(logNames(root).exists(_.endsWith(".checkpoint.parquet")))
    val after = Snapshots.readVersion(spark, root)
      .where(col("k") < 90000L).agg(count(lit(1)), sum("val")).head()
    assert(before == after, s"flip must not change content: $before vs $after")
    assert(Snapshots.readVersion(spark, root)
      .where(col("k") >= 90000L).count() == 10)
  }
}
