package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.parquet.GraftParquetDriverReader
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEvents, TestSpark}

/** The snapshot-log contract: historical versions are immutable and
  * readable after later commits, COW deletes rewrite only the files that
  * hold a doomed key, and vacuum reclaims exactly the unreferenced
  * files. */
class SnapshotsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fileSigs(dir: java.io.File): Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(dir).filter(_.getName.endsWith(".parquet")).map { f =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
      f.getAbsolutePath -> md5
    }.toMap
  }

  test("append and COW delete preserve every prior version bit-for-bit") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    // two files in v0 so the COW delete can demonstrate file granularity
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(2))
    val v0Rows = Snapshots.readVersion(spark, root, 0).count()
    assert(v0Rows == 100)
    val sigsAfterV0 = fileSigs(new java.io.File(root, "data"))

    Snapshots.append(spark, root, Seq((101L, 101.0)).toDF("k", "v"))
    val v2 = Snapshots.deleteKeysCow(spark, root, Seq(5L).toDF("k"), Seq("k"))
    assert(v2 == 2)

    // time travel: every version readable, with its exact historical rows
    assert(Snapshots.readVersion(spark, root, 0).count() == 100)
    assert(Snapshots.readVersion(spark, root, 1).count() == 101)
    assert(Snapshots.readVersion(spark, root, 2).count() == 100)
    assert(Snapshots.readVersion(spark, root, 0)
      .where(col("k") === 5).count() == 1, "history must still hold the deleted row")
    assert(Snapshots.readVersion(spark, root, 2)
      .where(col("k") === 5).count() == 0)

    // v0's physical files were never touched by later commits
    val sigsNow = fileSigs(new java.io.File(root, "data"))
    sigsAfterV0.foreach { case (path, md5) =>
      assert(sigsNow.get(path).contains(md5), s"v0 file mutated: $path")
    }
  }

  test("COW delete rewrites only the file holding the key; delta metadata is O(change)") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    // k=1..50 in one file, k=51..100 in another (range-partitioned)
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"))
    val m0 = Snapshots.versionFiles(spark, root, 0).toSet
    assert(m0.size == 2)
    Snapshots.deleteKeysCow(spark, root, Seq(7L).toDF("k"), Seq("k"))
    val m1 = Snapshots.versionFiles(spark, root, 1).toSet
    // exactly one v0 file carried over by reference
    assert((m0 & m1).size == 1, s"expected 1 carried file, got ${m0 & m1}")
    assert(Snapshots.readVersion(spark, root, 1).count() == 99)
    // the commit's delta records ONLY the changed files (one removed, the
    // rewrite's adds) — never the table's full listing
    val d1 = Snapshots.readDelta(spark, root, 1)
    assert(d1.removes.size == 1, s"delta must remove exactly the rewritten file: $d1")
    assert(!d1.adds.exists(a => m0.exists(_.endsWith(a))),
      "carried-over files must not reappear in the delta")
  }

  test("deleting an absent key commits a no-op version") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    val v = Snapshots.deleteKeysCow(spark, root, Seq(999L).toDF("k"), Seq("k"))
    assert(v == 1 && Snapshots.readVersion(spark, root, 1).count() == 1)
  }

  test("COW merge updates matched rows, inserts the rest, leaves history intact") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"))
    val src = Seq((7L, 700.0), (200L, 200.0)).toDF("k", "v")
    val v1 = Snapshots.mergeCow(spark, root, src, Seq("k"))
    assert(v1 == 1)
    val now = Snapshots.readVersion(spark, root, 1)
    assert(now.count() == 101)
    assert(now.where(col("k") === 7).select("v").as[Double].head() == 700.0)
    assert(now.where(col("k") === 200).count() == 1)
    // history: v0 still has the pre-update row and no insert
    val old = Snapshots.readVersion(spark, root, 0)
    assert(old.where(col("k") === 7).select("v").as[Double].head() == 7.0)
    assert(old.count() == 100)
  }

  test("OPTIMIZE commits a clustered rewrite whose content is identical") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root,
      (1L to 1000L).map(i => (i, (i * 37 % 1000).toDouble)).toDF("k", "v")
        .repartition(8))
    val v1 = Snapshots.optimizeCow(spark, root, Seq("k"), 4)
    val before = Snapshots.readVersion(spark, root, 0)
      .select("k", "v").as[(Long, Double)].collect().toSet
    val after = Snapshots.readVersion(spark, root, v1)
      .select("k", "v").as[(Long, Double)].collect().toSet
    assert(after == before, "optimize must not change content")
    // the clustered layout now min/max-prunes on k where the old one couldn't
    val files = Snapshots.readVersion(spark, root, v1)
      .withColumn("__f", org.apache.spark.sql.functions.input_file_name())
      .select("__f").distinct().count()
    assert(files <= 4)
  }

  test("OPTIMIZE + footer index: a snapshot version min/max-prunes from its manifest") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root,
      (1L to 4000L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(8))
    // unclustered v0: no pruning possible
    val idx0 = graft.core.Skipping.buildIndexForFiles(
      spark, Snapshots.versionFiles(spark, root, 0))
    assert(graft.core.Skipping.pruneFiles(idx0, "k", 100L, 199L).size == idx0.size)
    // optimized v1: the same query touches a fraction of the files
    val v1 = Snapshots.optimizeCow(spark, root, Seq("k"), 8)
    val idx1 = graft.core.Skipping.buildIndexForFiles(
      spark, Snapshots.versionFiles(spark, root, v1))
    val kept = graft.core.Skipping.pruneFiles(idx1, "k", 100L, 199L)
    assert(kept.size < idx1.size)
    assert(spark.read.parquet(kept: _*).where(col("k").between(100, 199)).count() == 100)
  }

  test("a racing COW rewrite at the same version fails loudly, never tears the log") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    // simulate the race: a concurrent writer committed version 1 between
    // this writer reading latest=0 and publishing its own version 1
    val log = new java.io.File(root, "_log")
    Files.writeString(new java.io.File(log, "v00000001.commit").toPath, "+data/commit-0/fake\n")
    val ex = intercept[IllegalArgumentException](
      Snapshots.writeDelta(spark, root, 1L,
        Snapshots.Delta(Seq("data/commit-1/loser"), Seq("data/commit-0/old"))))
    assert(ex.getMessage.contains("commit race"))
    // the loser's failure left version 1 exactly as the winner wrote it
    assert(Files.readString(new java.io.File(log, "v00000001.commit").toPath)
      == "+data/commit-0/fake\n")
  }

  test("two interleaved appenders both land: pure appends rebase and retry") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    // writer A wrote its data files against base version 0…
    val winnerV = Snapshots.append(spark, root, Seq((2L, 2.0)).toDF("k", "v"))
    assert(winnerV == 1)
    // …and writer B, ALSO computed against base 0, attempts the same
    // version — the stale startV simulates the lost race deterministically
    val fakeAdds = {
      val dataDir = new java.io.File(root, "data/commit-b-races0")
      Seq((3L, 3.0)).toDF("k", "v").coalesce(1).write.parquet(dataDir.getAbsolutePath)
      dataDir.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .map(f => s"data/commit-b-races0/${f.getName}").toSeq
    }
    val rebasedV = Snapshots.commitAdds(spark, root, fakeAdds, None, startV = 1L)
    assert(rebasedV == 2, s"the loser must rebase onto the winner, got $rebasedV")
    assert(Snapshots.versions(spark, root) == Seq(0L, 1L, 2L), "versions stay linear")
    // both appends' rows are present; neither clobbered the other
    assert(Snapshots.readVersion(spark, root, 2)
      .select("k").as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(Snapshots.readVersion(spark, root, 1)
      .select("k").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("truly concurrent appenders: every commit lands exactly once, versions linear") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((0L, 0.0)).toDF("k", "v"))
    // 4 threads x 3 appends racing on the atomic no-replace publish: a
    // lost-commit bug (POSIX rename replacing a winner) would silently
    // drop rows; a broken rebase would duplicate versions or deadlock
    val keys = (1 to 12).map(_.toLong)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = keys.map { k =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            Snapshots.append(spark, root, Seq((k, k * 1.0)).toDF("k", "v"))
        })
      }
      val versions = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(versions.toSet.size == 12, s"every append must take a distinct version: $versions")
    } finally pool.shutdown()
    assert(Snapshots.versions(spark, root) == (0L to 12L),
      "versions must be gapless and linear")
    assert(Snapshots.readVersion(spark, root)
      .select("k").as[Long].collect().sorted.toSeq == (0L to 12L),
      "every appended row must be present exactly once")
  }

  test("checkpoint + delta replay reconstructs every version; checkpoints are derived") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((0L, 0.0)).toDF("k", "v"))
    (1L to 12L).foreach(i => Snapshots.append(spark, root, Seq((i, i * 1.0)).toDF("k", "v")))
    // v0 and v10 checkpointed; v11 replays from the v10 checkpoint + 1 delta
    val log = new java.io.File(root, "_log")
    assert(new java.io.File(log, "v00000000.checkpoint").exists())
    assert(new java.io.File(log, "v00000010.checkpoint").exists())
    assert(Snapshots.readVersion(spark, root, 12).count() == 13)
    assert(Snapshots.readVersion(spark, root, 7).count() == 8)
    // losing a checkpoint only lengthens the replay — never loses data
    assert(new java.io.File(log, "v00000010.checkpoint").delete())
    assert(Snapshots.readVersion(spark, root, 12).count() == 13)
    assert(Snapshots.versionFiles(spark, root, 12).size == 13)
  }

  test("streaming batch ids live in the deltas: crash-replay is a recognized no-op") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    assert(Snapshots.commitStreamingBatch(spark, root, Seq((1L, 1.0)).toDF("k", "v"), 0L))
    assert(Snapshots.commitStreamingBatch(spark, root, Seq((2L, 2.0)).toDF("k", "v"), 1L))
    // the ADVICE crash window: the commit landed but NO separate marker
    // exists to advance — the batch id must come back from the delta alone
    assert(!new java.io.File(root, "_log/_lastbatch").exists(),
      "no marker file may exist — the delta IS the bookkeeping")
    assert(Snapshots.lastCommittedBatch(spark, root) == 1L)
    assert(!Snapshots.commitStreamingBatch(spark, root, Seq((9L, 9.0)).toDF("k", "v"), 1L),
      "a crash-replayed batch must be recognized from the committed delta")
    assert(Snapshots.readVersion(spark, root).count() == 2)
    // an interleaved NON-streaming commit does not hide the streaming id
    Snapshots.append(spark, root, Seq((3L, 3.0)).toDF("k", "v"))
    assert(Snapshots.lastCommittedBatch(spark, root) == 1L)
    assert(Snapshots.commitStreamingBatch(spark, root, Seq((4L, 4.0)).toDF("k", "v"), 2L))
    assert(Snapshots.readVersion(spark, root).count() == 4)
  }

  test("mergeCow publishes a change feed; changesBetween replays it") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    Snapshots.mergeCow(spark, root,
      Seq((2L, 22.0), (3L, 30.0)).toDF("k", "v"), Seq("k"), changeFeed = true)
    val feed = Snapshots.table(spark, root).changesBetween(0, 1).load()
    val ops = feed.select("k", ChangeFeed.opCol).as[(Long, String)].collect().toSet
    assert(ops == Set((3L, "insert"), (2L, "update_postimage"), (2L, "update_preimage")))
    // replaying the feed onto v0 reconstructs v1 exactly
    val replayed = ChangeFeed.applyChangeFeed(
      Snapshots.readVersion(spark, root, 0), feed, Seq("k"))
    assert(replayed.select("k", "v").as[(Long, Double)].collect().toSet
      == Snapshots.readVersion(spark, root, 1)
        .select("k", "v").as[(Long, Double)].collect().toSet)
    // a pure append never staged a feed — its adds ARE the inserts, so
    // CDC synthesizes them from the data files the log names (r8)
    Snapshots.append(spark, root, Seq((4L, 40.0)).toDF("k", "v"))
    assert(Snapshots.changesBetween(spark, root, 1, 2)
      .select("k", ChangeFeed.opCol).as[(Long, String)].collect().toSet
      == Set((4L, "insert")))
    // a rewrite that changed rows without a feed stays a loud failure
    Snapshots.deleteKeysCow(spark, root, Seq(4L).toDF("k"), Seq("k"))
    val ex = intercept[IllegalArgumentException](
      Snapshots.changesBetween(spark, root, 2, 3))
    assert(ex.getMessage.contains("change feed"))
  }

  test("CDC over a mixed history: feeds + synthesized appends, optimize contributes nothing") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    Snapshots.append(spark, root, Seq((3L, 30.0)).toDF("k", "v"))          // v1
    Snapshots.mergeCow(spark, root,
      Seq((2L, 22.0), (4L, 40.0)).toDF("k", "v"), Seq("k"), changeFeed = true) // v2
    Snapshots.optimizeCow(spark, root, Seq("k"), numFiles = 1)             // v3
    Snapshots.deleteKeysCow(spark, root, Seq(1L).toDF("k"), Seq("k"),
      changeFeed = true)                                                   // v4
    val head = Snapshots.latestVersion(spark, root)
    // sequential replay of the COMPLETE range reconstructs head from v0
    val replayed = (1L to head).foldLeft(Snapshots.readVersion(spark, root, 0)) {
      (snap, v) => ChangeFeed.applyChangeFeed(
        snap, Snapshots.changesBetween(spark, root, v - 1, v), Seq("k"))
    }
    assert(replayed.select("k", "v").as[(Long, Double)].collect().toSet
      == Snapshots.readVersion(spark, root)
        .select("k", "v").as[(Long, Double)].collect().toSet)
    // the optimize version alone is an EMPTY typed feed, not a failure
    assert(Snapshots.changesBetween(spark, root, 2, 3).count() == 0)
    // and the one-shot range read carries every change with its op
    val ops = Snapshots.changesBetween(spark, root, 0, head)
      .groupBy(col(ChangeFeed.opCol)).count()
      .as[(String, Long)].collect().toMap
    assert(ops == Map("insert" -> 2L, "update_preimage" -> 1L,
      "update_postimage" -> 1L, "delete" -> 1L), s"got $ops")
  }

  test("changesBetween takes a fresh feed's schema from its footer: no Spark job per feed") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"))
    Snapshots.mergeCow(spark, root,
      Seq((2L, 22.0), (4L, 40.0)).toDF("k", "v"), Seq("k"), changeFeed = true) // v1, feed
    Snapshots.deleteKeysCow(spark, root, Seq(1L).toDF("k"), Seq("k"), changeFeed = true) // v2, feed
    Snapshots.append(spark, root, Seq((5L, 50.0)).toDF("k", "v"))          // v3, no feed
    val (feed, events) = SparkEvents.record(spark)(Snapshots.changesBetween(spark, root, 0, 3))
    // Spark's schema inference ran one job per feed not yet seen
    assert(events.jobs == 0, s"${events.jobs} jobs planning a read over two fresh feeds")
    val ops = feed.groupBy(col(ChangeFeed.opCol)).count().as[(String, Long)].collect().toMap
    assert(ops == Map("insert" -> 2L, "update_preimage" -> 1L, "update_postimage" -> 1L, "delete" -> 1L))
    val feeds = new java.io.File(root, "_changes").listFiles().filter(_.isDirectory)
    assert(feeds.length == 2)
    feeds.foreach(d => assert(GraftParquetDriverReader.schema(spark, d.getPath) ==
      Some(spark.read.parquet(d.getPath).schema)))
  }

  test("delete feed completes the CRUD CDC: replaying merge+delete feeds reconstructs head") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"))
    Snapshots.mergeCow(spark, root,
      Seq((2L, 22.0), (4L, 40.0)).toDF("k", "v"), Seq("k"), changeFeed = true)
    Snapshots.deleteKeysCow(spark, root, Seq(1L).toDF("k"), Seq("k"), changeFeed = true)
    val feed01 = Snapshots.changesBetween(spark, root, 0, 2)
    assert(feed01.where(col(ChangeFeed.opCol) === "delete")
      .select("k", "v").as[(Long, Double)].collect().toSet == Set((1L, 10.0)),
      "the delete feed must carry the doomed PRE-delete rows")
    // folding both feeds over v0 reconstructs the head version exactly
    val replayed = Seq(1L, 2L).foldLeft(Snapshots.readVersion(spark, root, 0)) {
      (snap, v) => ChangeFeed.applyChangeFeed(
        snap, Snapshots.changesBetween(spark, root, v - 1, v), Seq("k"))
    }
    assert(replayed.select("k", "v").as[(Long, Double)].collect().toSet
      == Snapshots.readVersion(spark, root)
        .select("k", "v").as[(Long, Double)].collect().toSet)
    // vacuum drops the dropped versions' feeds with them (feed dirs are
    // uniquely suffixed — locate them by version prefix)
    def feedDirs(prefix: String): Seq[String] =
      Option(new java.io.File(root, "_changes").list()).toSeq.flatten
        .filter(_.startsWith(prefix))
    Snapshots.vacuum(spark, root, keepFrom = 2L)
    assert(feedDirs("v00000001").isEmpty,
      "vacuum must reclaim change feeds of dropped versions")
    assert(feedDirs("v00000002").nonEmpty, "retained versions keep their feeds")
  }

  test("an orphan _changes dir from a failed commit is invisible to changesBetween") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    // a crashed/raced writer staged a feed for version 1 but never
    // committed — then a DIFFERENT commit (no feed) lands at version 1
    val orphan = new java.io.File(root, "_changes/v00000001-deadbeef")
    Seq((1L, 10.0, "delete")).toDF("k", "v", ChangeFeed.opCol)
      .coalesce(1).write.parquet(orphan.getAbsolutePath)
    Snapshots.append(spark, root, Seq((3L, 30.0)).toDF("k", "v"))
    // the r7 ADVICE hazard: an fs.exists-based feed probe would serve the
    // stale orphan as version 1's changes; the #cdf: header never reaches
    // it — version 1 is an append, so CDC yields ITS synthesized inserts,
    // not the orphan's rows
    assert(Snapshots.changesBetween(spark, root, 0, 1)
      .select("k", ChangeFeed.opCol).as[(Long, String)].collect().toSet
      == Set((3L, "insert")))
    // and vacuumDebris reclaims the orphan once aged (a real commit's
    // feed, reachable via its delta header, is never touched)
    val v2 = Snapshots.mergeCow(spark, root,
      Seq((2L, 22.0)).toDF("k", "v"), Seq("k"), changeFeed = true)
    assert(Snapshots.vacuumDebris(spark, root, olderThanMs = 60000L) == 0,
      "fresh orphan survives the age gate")
    orphan.listFiles().foreach(_.setLastModified(1000L))
    assert(Snapshots.vacuumDebris(spark, root, olderThanMs = 60000L) >= 1)
    assert(!orphan.exists(), "aged orphan feed must be reclaimed")
    assert(Snapshots.changesBetween(spark, root, 1, v2).count() > 0,
      "the committed feed survives debris vacuum")
  }

  test("schema evolution: an append with a new column widens head, old versions keep their shape") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    Snapshots.append(spark, root, Seq((3L, 3.0, "en")).toDF("k", "v", "lang"))
    // head: evolved 3-column schema; pre-evolution files null-fill lang
    val head = Snapshots.readVersion(spark, root)
    assert(head.columns.toSeq == Seq("k", "v", "lang"))
    assert(head.where(col("lang").isNull).select("k").as[Long].collect().toSet
      == Set(1L, 2L), "pre-evolution rows must null-fill the new column")
    assert(head.where(col("lang") === "en").count() == 1)
    // time travel: version 0 reads under ITS schema — no lang column
    assert(Snapshots.readVersion(spark, root, 0).columns.toSeq == Seq("k", "v"))
    // a COW rewrite carries the evolved schema forward
    Snapshots.deleteKeysCow(spark, root, Seq(1L).toDF("k"), Seq("k"))
    assert(Snapshots.readVersion(spark, root).columns.toSeq == Seq("k", "v", "lang"))
    // changing an existing column's TYPE is refused loudly
    val ex = intercept[IllegalArgumentException](
      Snapshots.append(spark, root, Seq((9L, "oops", "fr")).toDF("k", "v", "lang")))
    assert(ex.getMessage.contains("schema evolution cannot change column"))
  }

  test("schema evolution on MERGE: new source columns widen, missing ones null-fill") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root,
      (1L to 10L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1))
    // source carries a NEW column: update k=5, insert k=20 — with a feed
    Snapshots.mergeCow(spark, root,
      Seq((5L, 500.0, "x"), (20L, 20.0, "y")).toDF("k", "v", "tag"),
      Seq("k"), changeFeed = true)
    val head = Snapshots.readVersion(spark, root)
    assert(head.columns.toSeq == Seq("k", "v", "tag"))
    assert(head.where(col("k") === 5L).select("v", "tag")
      .as[(Double, String)].head() == ((500.0, "x")))
    assert(head.where(col("k") === 20L).count() == 1)
    assert(head.where(col("tag").isNull).count() == 9,
      "unmatched rows must null-fill the new column")
    assert(Snapshots.readVersion(spark, root, 0).columns.toSeq == Seq("k", "v"))
    // the change feed carries the EVOLVED schema
    val feed = Snapshots.changesBetween(spark, root, 0, 1)
    assert(feed.columns.contains("tag"))
    assert(feed.where(col(ChangeFeed.opCol) === "insert")
      .select("tag").as[String].collect().toSeq == Seq("y"))
    // a source MISSING a table column null-fills it on its own rows only
    Snapshots.mergeCow(spark, root, Seq((3L, "z")).toDF("k", "tag"), Seq("k"))
    val h2 = Snapshots.readVersion(spark, root)
    assert(h2.where(col("k") === 3L).select("v").as[java.lang.Double].head() == null)
    assert(h2.where(col("k") === 4L).select("v").as[Double].head() == 4.0,
      "rows the source didn't touch keep their values")
    // a type change is refused loudly
    val ex = intercept[IllegalArgumentException](
      Snapshots.mergeCow(spark, root, Seq((1L, "oops")).toDF("k", "v"), Seq("k")))
    assert(ex.getMessage.contains("schema evolution cannot change column"))
  }

  test("a COW rewrite whose removed files are untouched by the winner rebases; true overlap fails") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    // two range-clustered files: k=1..50 and k=51..100
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"))
    val v0Files = Snapshots.readDelta(spark, root, 0).adds
    // a rewrite of file A (computed against v0) loses the race to an
    // APPEND at v1: the append touched no existing file, so the rewrite
    // rebases onto v2 — file-disjoint, content still exact
    Snapshots.append(spark, root, Seq((500L, 5.0)).toDF("k", "v"))
    val rewriteDir = new java.io.File(root, "data/commit-rw-races0")
    spark.read.parquet(s"$root/${v0Files.head}").where(col("k") =!= 7L)
      .coalesce(1).write.parquet(rewriteDir.getAbsolutePath)
    val rwAdds = rewriteDir.listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(f => s"data/commit-rw-races0/${f.getName}").toSeq
    val vRebased = Snapshots.commitRewriteRetry(spark, root, 1L,
      Snapshots.Delta(rwAdds, Seq(v0Files.head)))
    assert(vRebased == 2, s"disjoint rewrite must rebase onto the winner, got $vRebased")
    val head = Snapshots.readVersion(spark, root)
    assert(head.count() == 100, "100 - deleted k=7 + appended k=500")
    assert(head.where(col("k") === 7).count() == 0)
    // true overlap: a second rewrite claiming the SAME file the rebased
    // rewrite already removed must fail loudly, never land
    val loser = intercept[IllegalStateException](
      Snapshots.commitRewriteRetry(spark, root, 2L,
        Snapshots.Delta(Nil, Seq(v0Files.head))))
    assert(loser.getMessage.contains("rewrite conflict"),
      s"overlapping rewrite must fail loudly, got: ${loser.getMessage}")
    assert(Snapshots.latestVersion(spark, root) == 2L, "the loser left no version behind")
  }

  test("truly concurrent append + COW delete on disjoint files: both land") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val del = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = Snapshots.deleteKeysCow(spark, root, Seq(7L).toDF("k"), Seq("k"))
      })
      val app = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = Snapshots.append(spark, root, Seq((500L, 5.0)).toDF("k", "v"))
      })
      val (vd, va) = (del.get(120, java.util.concurrent.TimeUnit.SECONDS),
        app.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(Set(vd, va) == Set(1L, 2L), s"both must land on distinct versions: $vd, $va")
    } finally pool.shutdown()
    val head = Snapshots.readVersion(spark, root)
    assert(head.count() == 100, "100 - deleted k=7 + appended k=500")
    assert(head.where(col("k") === 7).count() == 0)
    assert(head.where(col("k") === 500).count() == 1)
  }

  test("vacuumRetain honors both the version-count and the age window") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((0L, 0.0)).toDF("k", "v"))
    (1L to 4L).foreach(i => Snapshots.append(spark, root, Seq((i, i * 1.0)).toDF("k", "v")))
    // everything is seconds old: a 1-hour window refuses to drop anything,
    // even though retainLast=2 alone would drop versions 0..2 — the reader
    // protection window wins
    assert(Snapshots.vacuumRetain(spark, root, retainLast = 2, olderThanMs = 3600000L) == 0)
    assert(Snapshots.versions(spark, root) == (0L to 4L))
    assert(Snapshots.readVersion(spark, root, 0).count() == 1,
      "an old-version reader inside the window survives the vacuum")
    // age the early commits out of the window: now retainLast governs
    (0L to 2L).foreach { v =>
      new java.io.File(root, f"_log/v$v%08d.commit").setLastModified(1000L)
    }
    Snapshots.vacuumRetain(spark, root, retainLast = 2, olderThanMs = 3600000L)
    assert(Snapshots.versions(spark, root) == Seq(3L, 4L))
    assert(Snapshots.readVersion(spark, root, 3).count() == 4)
  }

  test("lastCommittedBatch stops at the checkpoint: the #maxtxn header answers for vacuumed-age history") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    assert(Snapshots.commitStreamingBatch(spark, root, Seq((1L, 1.0)).toDF("k", "v"), 5L))
    // 14 non-streaming commits bury the streaming delta below checkpoint 10
    (1L to 14L).foreach(i => Snapshots.append(spark, root, Seq((i + 1, i * 1.0)).toDF("k", "v")))
    assert(new java.io.File(root, "_log/v00000010.checkpoint").exists())
    // delete the delta that held #txn:5 — if lastCommittedBatch still
    // answers, it PROVABLY read the checkpoint header, not the old delta
    assert(new java.io.File(root, "_log/v00000000.commit").delete())
    assert(Snapshots.lastCommittedBatch(spark, root) == 5L,
      "the checkpoint #maxtxn header must answer without replaying old deltas")
  }

  test("an append that loses the race to an OPTIMIZE rebases cleanly on top of it") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(4))
    // appender writes its files against base 0…
    val adds = {
      val dataDir = new java.io.File(root, "data/commit-app-races0")
      Seq((500L, 5.0)).toDF("k", "v").coalesce(1).write.parquet(dataDir.getAbsolutePath)
      dataDir.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .map(f => s"data/commit-app-races0/${f.getName}").toSeq
    }
    // …but an OPTIMIZE lands first (complete rewrite: removes all v0 files)
    val vOpt = Snapshots.optimizeCow(spark, root, Seq("k"), 2)
    assert(vOpt == 1)
    val vApp = Snapshots.commitAdds(spark, root, adds, None, startV = 1L)
    assert(vApp == 2)
    // the rebased append sits on the OPTIMIZED file set: all rows present,
    // and the appended row rides the new layout
    val head = Snapshots.readVersion(spark, root)
    assert(head.count() == 101)
    assert(head.where(col("k") === 500L).count() == 1)
    assert(Snapshots.versionFiles(spark, root).size == 3, "2 optimized files + 1 appended")
  }

  test("OPTIMIZE ZORDER: content identical, BOTH dimensions prune through the snapshot path") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    // two independent 8-bit dims, scattered so every cell is populated
    Snapshots.init(spark, root,
      (0L until 4096L).map(i => (i, (i * 131) % 256, (i * 137) % 256))
        .toDF("id", "a", "b").repartition(8))
    val v1 = Snapshots.optimizeZorderCow(spark, root, "a", "b",
      cellDiv = 4096L, numFiles = 16)
    val before = Snapshots.readVersion(spark, root, 0)
      .select("id").as[Long].collect().toSet
    val after = Snapshots.readVersion(spark, root, v1)
      .select("id").as[Long].collect().toSet
    assert(after == before, "optimize must not change content")
    val idx = graft.core.Skipping.buildIndexDistributed(
      spark, Snapshots.versionFiles(spark, root, v1))
    assert(graft.core.Skipping.pruneFiles(idx, "a", 0L, 63L).size < idx.size,
      "dimension a must prune")
    assert(graft.core.Skipping.pruneFiles(idx, "b", 0L, 63L).size < idx.size,
      "dimension b must prune")
    // the pruned scan through the unified reader returns exactly the range
    val got = Snapshots.table(spark, root).versionAsOf(v1).pruneOn("a", 0L, 63L)
      .load().select("a").as[Long].collect()
    assert(got.forall(_ <= 63) && got.length ==
      Snapshots.readVersion(spark, root, v1).where(col("a") <= 63).count())
  }

  test("unified reader: versionAsOf and pruneOn agree with the long-hand calls") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root,
      (1L to 1000L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    Snapshots.append(spark, root, Seq((2000L, 2.0)).toDF("k", "v"))
    assert(Snapshots.table(spark, root).versionAsOf(0).load().count()
      == Snapshots.readVersion(spark, root, 0).count())
    assert(Snapshots.table(spark, root).load().count() == 1001)
    val pruned = Snapshots.table(spark, root).versionAsOf(0)
      .pruneOn("k", 100L, 199L).load()
    assert(pruned.select("k").as[Long].collect().toSet == (100L to 199L).toSet)
  }

  test("pruneOn never returns rows a merge-on-read delete removed") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"))
    // deletion vectors only: the deleted rows stay in the data files
    val v1 = Snapshots.deleteWhereMor(spark, root, "k BETWEEN 10 AND 19")
    assert(Snapshots.readDelta(spark, root, v1).dvAdd.isDefined)
    val got = Snapshots.table(spark, root).pruneOn("k", 1L, 30L).load()
      .select("k").as[Long].collect().toSet
    assert(got == (1L to 30L).toSet -- (10L to 19L))
    // time travel to before the delete still sees them
    assert(Snapshots.table(spark, root).versionAsOf(0).pruneOn("k", 1L, 30L)
      .load().count() == 30L)
  }

  test("streaming ingest commits one version per batch, replay-idempotent") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    val src = Files.createTempDirectory("snap-src").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("snap-ckpt").toFile.getAbsolutePath
    (1 to 3).foreach { b =>
      Seq((b.toLong, b * 1.0)).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(src)
    }
    graft.streaming.StreamingJobs.streamingSnapshotIngest(
      TestSpark.spark, src, root, ckpt)
    assert(Snapshots.versions(spark, root) == Seq(0L, 1L, 2L))
    assert(Snapshots.readVersion(spark, root, 0).count() == 1)
    assert(Snapshots.readVersion(spark, root, 2).count() == 3)
    assert(Snapshots.lastCommittedBatch(spark, root) == 2L)
    // a replayed batch (same id) is skipped, not double-appended
    assert(!Snapshots.commitStreamingBatch(spark, root,
      Seq((9L, 9.0)).toDF("k", "v"), batchId = 1L))
    assert(Snapshots.readVersion(spark, root).count() == 3)
  }

  test("debris vacuum reclaims crashed-writer leftovers, never committed history") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    // a crashed commit: data files written, delta never renamed
    val dead = new java.io.File(root, "data/commit-9-deadbeef")
    Seq((9L, 9.0)).toDF("k", "v").coalesce(1).write.parquet(dead.getAbsolutePath)
    val tmp = new java.io.File(root, "_log/.v00000009-deadbeef.tmp")
    Files.writeString(tmp.toPath, "+data/commit-9-deadbeef/whatever\n")
    // fresh debris survives (could be an in-flight writer)…
    assert(Snapshots.vacuumDebris(spark, root, olderThanMs = 60000L) == 0)
    assert(dead.exists() && tmp.exists())
    // …aged debris goes; committed history untouched
    (dead.listFiles() :+ dead :+ tmp).foreach(_.setLastModified(1000L))
    val removed = Snapshots.vacuumDebris(spark, root, olderThanMs = 60000L)
    assert(removed >= 2, s"expected data file + tmp manifest reclaimed, got $removed")
    assert(!dead.exists() && !tmp.exists())
    assert(Snapshots.readVersion(spark, root, 0).count() == 1)
    assert(Snapshots.vacuumDebris(spark, root, olderThanMs = 0L) == 0,
      "idempotent, and committed dirs are never candidates")
  }

  test("stats ride the log: every commit kind records them, index == footer truth") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"))
    Snapshots.append(spark, root, Seq((101L, 101.0)).toDF("k", "v"))
    Snapshots.mergeCow(spark, root, Seq((7L, 700.0)).toDF("k", "v"), Seq("k"))
    Snapshots.optimizeCow(spark, root, Seq("k"), numFiles = 3)
    // every live file's stats came from the log — zero footer reads at plan
    assert(Snapshots.statsMissingFromLog(spark, root).isEmpty,
      "a freshly written table must never need a footer sweep")
    // and the log's envelopes are exactly what the footers say
    val fromLog = Snapshots.statsIndex(spark, root)
    val fromFooters = graft.core.Skipping.buildIndexDistributed(
      spark, Snapshots.versionFiles(spark, root))
    assert(fromLog.sortBy(_.path) == fromFooters.sortBy(_.path),
      "log-recorded stats must equal a footer rebuild")
    // pruning equality on a real range
    assert(graft.core.Skipping.pruneFiles(fromLog, "k", 1L, 30L).sorted ==
      graft.core.Skipping.pruneFiles(fromFooters, "k", 1L, 30L).sorted)
  }

  test("checkpoints carry stats: vacuum dropping the adding deltas loses nothing") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((0L, 0.0)).toDF("k", "v"))
    (1L to 10L).foreach(i =>
      Snapshots.append(spark, root, Seq((i, i * 1.0)).toDF("k", "v")))
    // v10 checkpoint exists; drop all history below it (deltas 0..9 gone)
    Snapshots.vacuum(spark, root, keepFrom = 10L)
    assert(Snapshots.statsMissingFromLog(spark, root).isEmpty,
      "stats of files added before the vacuum floor must survive in the checkpoint")
    val idx = Snapshots.statsIndex(spark, root)
    assert(idx.size == 11 && idx.forall(s => s.mins.contains("k")))
  }

  test("legacy log without #stats lines falls back to footers, same index") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root,
      (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(2))
    // simulate a pre-stats log: strip the #stats lines from the delta AND
    // drop the v0 checkpoint that also carries them (derived — safe)
    val d0 = new java.io.File(root, "_log/v00000000.commit")
    val stripped = Files.readAllLines(d0.toPath).stream()
      .filter(l => !l.startsWith("#stats:")).toArray.mkString("\n") + "\n"
    Files.writeString(d0.toPath, stripped)
    assert(new java.io.File(root, "_log/v00000000.checkpoint").delete())
    // out-of-band delta surgery: the per-version caches must be told
    Snapshots.invalidateCaches(spark, root)
    assert(Snapshots.statsMissingFromLog(spark, root).size == 2)
    val idx = Snapshots.statsIndex(spark, root)
    val truth = graft.core.Skipping.buildIndexDistributed(
      spark, Snapshots.versionFiles(spark, root))
    assert(idx.sortBy(_.path) == truth.sortBy(_.path),
      "footer fallback must reproduce the full index")
  }

  test("writer storm: racing appenders + a compactor all land, no row lost or doubled") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((-1L, 0.0)).toDF("k", "v"))
    val writers = 4; val batches = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers + 1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val done = new java.util.concurrent.CountDownLatch(writers + 1)
    (0 until writers).foreach { w =>
      pool.submit(new Runnable { def run(): Unit = try {
        (0 until batches).foreach { b =>
          val base = (w * batches + b) * 100L
          Snapshots.append(spark, root,
            (base until base + 100L).map(i => (i, i * 1.0)).toDF("k", "v"))
        }
      } catch { case t: Throwable => failures.add(t) } finally done.countDown() })
    }
    pool.submit(new Runnable { def run(): Unit = try {
      (0 until 2).foreach { _ =>
        Thread.sleep(50)
        // compaction racing the appenders: rebases or packs, never corrupts
        try Snapshots.optimizeCompact(spark, root, smallerThanBytes = 1L << 20)
        catch { case e: IllegalStateException
          if e.getMessage.contains("conflict") => () } // admissible loud loss
      }
    } catch { case t: Throwable => failures.add(t) } finally done.countDown() })
    assert(done.await(300, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(failures.isEmpty, s"writer failed: ${Option(failures.peek())}")
    // versions are contiguous — no torn or skipped commit
    val vs = Snapshots.versions(spark, root)
    assert(vs == (0L until vs.size).toSeq, s"non-contiguous log: $vs")
    // every appended row present EXACTLY once at head
    val head = Snapshots.readVersion(spark, root).where(col("k") >= 0)
    assert(head.count() == writers * batches * 100L)
    assert(head.select("k").distinct().count() == writers * batches * 100L)
    // and every historical version still reads
    vs.foreach(v => Snapshots.readVersion(spark, root, v).count())
  }

  test("RESTORE is an O(difference) metadata commit; history stays readable") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(2))
    Snapshots.append(spark, root, Seq((101L, 101.0)).toDF("k", "v"))   // v1
    Snapshots.deleteKeysCow(spark, root,
      (1L to 50L).map(Tuple1(_)).toDF("k"), Seq("k"))                  // v2: bad delete
    val dataBytesBefore = fileSigs(new java.io.File(root, "data")).keySet
    val v3 = Snapshots.restore(spark, root, 1L)
    assert(v3 == 3)
    // no data was written or rewritten — pure metadata
    assert(fileSigs(new java.io.File(root, "data")).keySet == dataBytesBefore)
    // head content == v1 exactly; the bad version is STILL readable
    assert(Snapshots.readVersion(spark, root).count() == 101)
    assert(Snapshots.readVersion(spark, root, 2).count() == 51)
    assert(Snapshots.readVersion(spark, root)
      .where(col("k") === 7L).count() == 1, "deleted rows are back")
    // stats were recovered from the log, not re-read from footers
    assert(Snapshots.statsMissingFromLog(spark, root).isEmpty)
    // restoring past vacuumed data fails loudly
    Snapshots.deleteKeysCow(spark, root,
      (1L to 100L).map(Tuple1(_)).toDF("k"), Seq("k"))
    Snapshots.vacuum(spark, root, keepFrom = 4L)
    intercept[Exception](Snapshots.restore(spark, root, 3L))
  }

  test("CHECK constraints gate every ingest path; NULL passes; drop lifts the gate") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((1L, 10.0)).toDF("k", "v"),
      props = Map("constraint.v_pos" -> "v > 0"))
    // violating append REFUSED, table untouched
    val ex = intercept[IllegalArgumentException](
      Snapshots.append(spark, root, Seq((2L, -5.0)).toDF("k", "v")))
    assert(ex.getMessage.contains("v_pos"))
    assert(Snapshots.latestVersion(spark, root) == 0)
    // NULL passes (SQL CHECK semantics); valid rows land
    Snapshots.append(spark, root,
      Seq((2L, Some(2.0)), (3L, None)).toDF("k", "v"))
    assert(Snapshots.readVersion(spark, root).count() == 3)
    // merge is gated too
    intercept[IllegalArgumentException](
      Snapshots.mergeCow(spark, root, Seq((4L, -1.0)).toDF("k", "v"), Seq("k")))
    // adding a constraint the EXISTING data violates is refused
    intercept[IllegalArgumentException](
      Snapshots.addCheckConstraint(spark, root, "k_small", "k < 3"))
    // a satisfiable one lands as a metadata commit and gates from then on
    Snapshots.addCheckConstraint(spark, root, "k_bound", "k < 1000")
    intercept[IllegalArgumentException](
      Snapshots.append(spark, root, Seq((5000L, 1.0)).toDF("k", "v")))
    // init with a violating frame is refused before any log exists
    val root2 = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t2"
    intercept[IllegalArgumentException](
      Snapshots.init(spark, root2, Seq((1L, -1.0)).toDF("k", "v"),
        props = Map("constraint.v_pos" -> "v > 0")))
    // drop lifts the gate
    Snapshots.dropCheckConstraint(spark, root, "k_bound")
    Snapshots.append(spark, root, Seq((5000L, 1.0)).toDF("k", "v"))
    assert(Snapshots.readVersion(spark, root).count() == 4)
  }

  test("rowCount answers from the log; optimizeCompact packs only small files") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root,
      (1L to 1000L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1))
    (1L to 5L).foreach(i =>
      Snapshots.append(spark, root, Seq((1000L + i, 0.0)).toDF("k", "v")))
    assert(Snapshots.rowCount(spark, root) == Some(1005L))

    val qroot = new org.apache.hadoop.fs.Path(root)
    val fs = qroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bigLen = Snapshots.versionFiles(spark, root, 0)
      .map(f => fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).max
    val v = Snapshots.optimizeCompact(spark, root, smallerThanBytes = bigLen)
    assert(v == 6)
    val files = Snapshots.versionFiles(spark, root)
    assert(files.size == 2, s"big file carried + one packed file, got $files")
    assert(files.exists(Snapshots.versionFiles(spark, root, 0).contains),
      "the right-sized file must carry over by reference, not be rewritten")
    assert(Snapshots.readVersion(spark, root).count() == 1005)
    assert(Snapshots.rowCount(spark, root) == Some(1005L),
      "packed files' stats ride their commit — count stays metadata-only")
    // idempotent: one small file left (< 2) means nothing to pack
    assert(Snapshots.optimizeCompact(spark, root, smallerThanBytes = bigLen) == -1L)
  }

  test("overwrite: one-commit full replace; history intact; CDC and tailing refuse it") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(2))
    Snapshots.append(spark, root, Seq((101L, 101.0)).toDF("k", "v"))
    val baseFiles = Snapshots.versionFiles(spark, root, 1).toSet

    val vOw = Snapshots.overwrite(spark, root,
      (1L to 5L).map(i => (i, s"s$i")).toDF("k", "s"))
    assert(vOw == 2L, "a replace must be exactly ONE commit")
    // head is exactly the new frame, schema REPLACED (v is gone, s arrived)
    val head = Snapshots.readVersion(spark, root)
    assert(head.columns.toSeq == Seq("k", "s") && head.count() == 5)
    assert(Snapshots.versionFiles(spark, root, vOw).toSet.intersect(baseFiles).isEmpty,
      "an overwrite head must reference none of the replaced files")
    // history reads under its own recorded schema
    val v1 = Snapshots.readVersion(spark, root, 1)
    assert(v1.columns.toSeq == Seq("k", "v") && v1.count() == 101)
    // the commit recorded write-time stats like any other
    assert(Snapshots.statsMissingFromLog(spark, root).isEmpty)
    // CDC cannot row-diff a replace: loud, not silent
    intercept[IllegalArgumentException](
      Snapshots.changesBetween(spark, root, 1, vOw).collect())
    // appends-only tailing refuses (or skips wholesale) the rewrite
    intercept[IllegalStateException](
      TableSync.appendsBetween(spark, root, 1, vOw))
    assert(TableSync.appendsBetween(spark, root, 1, vOw, skipRewrites = true)
      ._1.isEmpty)
  }

  test("vacuum reclaims exactly the files no retained version references") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(2))
    Snapshots.append(spark, root, Seq((101L, 101.0)).toDF("k", "v"))
    Snapshots.deleteKeysCow(spark, root, (1L to 100L).map(Tuple1(_)).toDF("k"), Seq("k"))

    val deleted = Snapshots.vacuum(spark, root, keepFrom = 2L)
    assert(deleted == 2, s"both fully-rewritten v0 files should be reclaimed, got $deleted")
    assert(Snapshots.versions(spark, root) == Seq(2L))
    // the retained version still reads (the append's file was carried over)
    assert(Snapshots.readVersion(spark, root, 2)
      .select("k").as[Long].collect().toSeq == Seq(101L))
    intercept[Exception](Snapshots.readVersion(spark, root, 0))
  }

  test("autoCompact property: steady small appends keep O(1) files, rows intact") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((0L, 0.0)).toDF("k", "v").coalesce(1),
      Map("graft.autoCompact.smallBytes" -> (10L * 1024 * 1024).toString))
    (1L to 6L).foreach(i =>
      Snapshots.append(spark, root, Seq((i, i * 1.0)).toDF("k", "v").coalesce(1)))
    val files = Snapshots.versionFiles(spark, root)
    assert(files.size <= 2,
      s"auto-compaction must bound the file count, got ${files.size}: $files")
    assert(Snapshots.readVersion(spark, root).select("k").as[Long].collect().sorted.toSeq
      == (0L to 6L), "no row lost or doubled across compactions")
    val ops = Snapshots.history(spark, root).select("op").as[String].collect()
    assert(ops.contains("optimize"), "compactions are ordinary commits in the history")

    // control: without the property the file count grows with appends
    val root2 = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root2, Seq((0L, 0.0)).toDF("k", "v").coalesce(1))
    (1L to 6L).foreach(i =>
      Snapshots.append(spark, root2, Seq((i, i * 1.0)).toDF("k", "v").coalesce(1)))
    assert(Snapshots.versionFiles(spark, root2).size == 7)
  }

  test("autoCompact fires on streaming commits too; malformed value degrades to a warning") {
    // the steady small-batch STREAMING ingest is the workload the
    // property exists for (Delta's autoCompact applies to writeStream)
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((0L, 0.0)).toDF("k", "v").coalesce(1),
      Map("graft.autoCompact.smallBytes" -> (10L * 1024 * 1024).toString))
    (1L to 6L).foreach(i => Snapshots.commitStreamingBatch(
      spark, root, Seq((i, i * 1.0)).toDF("k", "v").coalesce(1), batchId = i))
    assert(Snapshots.versionFiles(spark, root).size <= 2,
      "streaming ingest must stay O(1) files under autoCompact")
    assert(Snapshots.readVersion(spark, root).select("k").as[Long].collect().sorted.toSeq
      == (0L to 6L))
    // a replayed batch id is still a recognized no-op with compactions interleaved
    assert(!Snapshots.commitStreamingBatch(
      spark, root, Seq((99L, 9.0)).toDF("k", "v"), batchId = 3L))

    // a typo'd property value must not fail ingest AFTER its data commit
    val root2 = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root2, Seq((0L, 0.0)).toDF("k", "v").coalesce(1),
      Map("graft.autoCompact.smallBytes" -> "ten-megabytes"))
    val v = Snapshots.append(spark, root2, Seq((1L, 1.0)).toDF("k", "v").coalesce(1))
    assert(v == 1L, "append commits despite the malformed property")
    assert(Snapshots.readVersion(spark, root2).count() == 2L)
  }

  test("history: one row per version, newest first, headers faithful") {
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath + "/t"
    Snapshots.init(spark, root, Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    Snapshots.append(spark, root, Seq((3L, 3.0)).toDF("k", "v"))
    Snapshots.commitStreamingBatch(spark, root, Seq((4L, 4.0)).toDF("k", "v"), batchId = 7L)
    Snapshots.mergeCow(spark, root, Seq((1L, 10.0)).toDF("k", "v"), Seq("k"), changeFeed = true)
    val h = Snapshots.history(spark, root).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L, 0L), "newest first")
    assert(h.map(_.getString(2)).toSeq == Seq("merge", "append", "append", "init"))
    assert(h.find(_.getLong(0) == 2L).get.getLong(5) == 7L, "streaming batch id rides its row")
    assert(h.map(_.getBoolean(6)).toSeq == Seq(true, false, false, false), "only the merge has a feed")
    val ts = h.map(_.getLong(1)).reverse
    assert(ts.zip(ts.tail).forall { case (a, b) => a < b }, "in-commit timestamps strictly increase")
    assert(h.last.getBoolean(7), "init carries the schema")
  }

  test("prop values that would corrupt the line codec are refused loudly") {
    // the log is line-oriented (#prop:k=v) — a newline inside a value
    // (e.g. a multiline CHECK expression) would shear the delta file;
    // refusal must land BEFORE any log mutation
    val root = Files.createTempDirectory("propg").toFile.getAbsolutePath + "/t"
    val e = intercept[IllegalArgumentException](
      Snapshots.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"),
        Map("constraint.c1" -> "k >\n 0")))
    assert(e.getMessage.contains("newline"), e.getMessage)
    assert(!new java.io.File(root, "_log").exists, "nothing committed")
    // a single-line spelling of the same constraint lands fine
    Snapshots.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"),
      Map("constraint.c1" -> "k > 0"))
    assert(Snapshots.readVersion(spark, root).count() == 1L)
  }
}
