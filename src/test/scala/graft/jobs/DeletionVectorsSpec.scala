package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEvents, TestSpark}

/** Merge-on-read deletion vectors: `deleteWhereMor` deletes rows with
  * ZERO data files rewritten (a `_dv/` sidecar of (file, row_index)
  * pairs named by the delta), every read path applies the vectors,
  * time travel sees each version's own DV set, and
  * `materializeDeletionVectors` folds them into a rewrite. */
class DeletionVectorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("dv").toFile.getAbsolutePath + "/t"

  private def dataSigs(root: String): Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(root, "data")).filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
        f.getAbsolutePath -> md5
      }.toMap
  }

  test("deleteWhereMor deletes rows with zero files rewritten; reads and time travel exact") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 300L).map(i => (i, i * 1.0, s"s$i")).toDF("k", "v", "s")
        .repartitionByRange(3, col("k")).sortWithinPartitions("k"))
    val sigsBefore = dataSigs(root)

    val v1 = Snapshots.deleteWhereMor(spark, root, "k <= 50", changeFeed = true)
    assert(v1 == 1L)
    // NOT A SINGLE data file changed
    assert(dataSigs(root) == sigsBefore, "merge-on-read must rewrite nothing")
    val d = Snapshots.readDelta(spark, root, 1L)
    assert(d.adds.isEmpty && d.removes.isEmpty && d.dvAdd.isDefined)
    // the head reads without the deleted rows
    assert(Snapshots.readVersion(spark, root).select("k").as[Long].collect().sorted.toSeq
      == (51L to 300L))
    // time travel: v0 still reads everything
    assert(Snapshots.readVersion(spark, root, 0).count() == 300)
    // the change feed published the doomed rows
    val feed = Snapshots.changesBetween(spark, root, 0, 1)
    assert(feed.where(col(ChangeFeed.opCol) === "delete").count() == 50)
    // rowCount falls back (stats can't see DV'd rows)
    assert(Snapshots.rowCount(spark, root).isEmpty)
    assert(Snapshots.readVersion(spark, root).count() == 250)

    // a second MOR delete layers; a row can't die twice
    Snapshots.deleteWhereMor(spark, root, "k <= 60", changeFeed = true)
    assert(Snapshots.readVersion(spark, root).select("k").as[Long].collect().sorted.toSeq
      == (61L to 300L))
    assert(Snapshots.changesBetween(spark, root, 1, 2)
      .where(col(ChangeFeed.opCol) === "delete").count() == 10,
      "only the newly-dead rows ride the second feed")

    // merge on a DV'd table: carried files stay DV-filtered
    Snapshots.mergeCow(spark, root, Seq((61L, -1.0, "upd")).toDF("k", "v", "s"), Seq("k"))
    val head = Snapshots.readVersion(spark, root)
    assert(head.count() == 240)
    assert(head.where(col("k") === 61).select("v").as[Double].head() == -1.0)
    assert(head.where(col("k") <= 60).count() == 0)

    // materialize folds the vectors away: content identical, DV list empty
    val before = head.orderBy("k").as[(Long, Double, String)].collect().toSeq
    val vM = Snapshots.materializeDeletionVectors(spark, root)
    assert(vM > 0)
    assert(Snapshots.liveDeletionVectors(spark, root).isEmpty)
    assert(Snapshots.readVersion(spark, root)
      .orderBy("k").as[(Long, Double, String)].collect().toSeq == before)
    assert(Snapshots.rowCount(spark, root).contains(240L), "stats-only count returns after materialize")
    // nothing left to materialize
    assert(Snapshots.materializeDeletionVectors(spark, root) == -1L)
  }

  test("vectors are read with their fixed schema: no inference job on a read") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 300L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(3))
    Snapshots.deleteWhereMor(spark, root, "k % 10 = 0")
    val (n, events) = SparkEvents.record(spark)(Snapshots.readVersion(spark, root).count())
    assert(n == 270L)
    // the vector's broadcast, the scan and the count's final stage; an
    // inferred schema costs one more
    assert(events.jobs == 3, s"a read over one vector submitted ${events.jobs} jobs")
    assert(Snapshots.dvSchema.fieldNames.toSeq == Seq("file_path", "row_index"))
  }

  test("MOR on partitioned and column-mapped tables; candidates stats-pruned") {
    val root = tmp()
    Snapshots.init(spark, root,
      Seq((1L, 2024, 10.0), (2L, 2024, 20.0), (3L, 2025, 30.0), (4L, 2025, 40.0))
        .toDF("k", "year", "v"),
      Map("graft.partitionBy" -> "year"))
    Snapshots.renameColumn(spark, root, "v", "amount")
    Snapshots.deleteWhereMor(spark, root, "k = 3")
    val head = Snapshots.readVersion(spark, root)
    assert(head.orderBy("k").as[(Long, Int, Double)].collect().toSeq
      == Seq((1L, 2024, 10.0), (2L, 2024, 20.0), (4L, 2025, 40.0)))
    // partition-predicate MOR delete prunes candidates from the paths
    Snapshots.deleteWhereMor(spark, root, "year = 2024")
    assert(Snapshots.readVersion(spark, root).select("k").as[Long].collect().toSeq
      == Seq(4L))

    // clustered stats pruning: candidate selection only reads intersecting files
    val root2 = tmp()
    Snapshots.init(spark, root2,
      (1L to 300L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(3, col("k")).sortWithinPartitions("k"))
    assert(Snapshots.statsCandidateFiles(spark, root2, 0, "k <= 50").size == 1)
    Snapshots.deleteWhereMor(spark, root2, "k <= 50")
    assert(Snapshots.readVersion(spark, root2).count() == 250)
  }

  test("OCC rebase reconciles deletion vectors: winners' vectors survive, true overlap is loud") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 300L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(3, col("k")).sortWithinPartitions("k"))
    val file1 = Snapshots.statsCandidateFiles(spark, root, 0, "k <= 50").head
    val file3 = Snapshots.statsCandidateFiles(spark, root, 0, "k >= 250").head
    val v0Delta = Snapshots.readDelta(spark, root, 0L)

    // winner: a MOR delete commits v1 with a new vector on file1
    assert(Snapshots.deleteWhereMor(spark, root, "k <= 50") == 1L)

    // loser: a rewrite COMPUTED AGAINST v0 (dv = Nil captured) removing
    // the DISJOINT file3 — must rebase AND inherit the winner's vector
    val d = Snapshots.Delta(Nil, Seq(file3), schema = v0Delta.schema,
      props = v0Delta.props, op = Some("delete"), dv = Nil)
    val v2 = Snapshots.commitRewriteRetry(spark, root, 1L, d)
    assert(v2 == 2L)
    assert(Snapshots.liveDeletionVectors(spark, root).nonEmpty,
      "the winner's deletion vector must survive the rebase")
    assert(Snapshots.readVersion(spark, root).select("k").as[Long].collect().sorted.toSeq
      == (51L to 200L), "both the vector's rows AND the removed file's rows are gone")

    // true overlap: a rewrite claiming the VECTOR'S file fails loudly
    val d2 = Snapshots.Delta(Nil, Seq(file1), schema = v0Delta.schema,
      props = v0Delta.props, op = Some("delete"), dv = Nil)
    intercept[IllegalStateException](
      Snapshots.commitRewriteRetry(spark, root, 2L, d2))

    // and a MOR loser whose vector references a file a winner rewrote
    // fails loudly instead of committing a dead vector
    val root2 = tmp()
    Snapshots.init(spark, root2,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"))
    val r2file1 = Snapshots.statsCandidateFiles(spark, root2, 0, "k <= 10").head
    val r2abs = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root2), r2file1).toString
    // winner rewrites file1 (COW delete of its keys)
    Snapshots.deleteKeysCow(spark, root2, Seq(1L).toDF("k"), Seq("k"))
    // loser's staged vector points into the file the winner just removed
    Seq((r2abs, 0L)).toDF("file_path", "row_index")
      .write.parquet(s"$root2/_dv/stale-vec")
    val dMor = Snapshots.Delta(Nil, Nil, schema = Snapshots.readDelta(spark, root2, 0L).schema,
      props = Map.empty, op = Some("delete"),
      dv = Seq("stale-vec"), dvAdd = Some("stale-vec"))
    intercept[IllegalStateException](
      Snapshots.commitRewriteRetry(spark, root2, 1L, dMor))
  }

  test("tailing refuses DV commits; vacuum and restore respect DV lifecycles; front door applies DVs") {
    val root = tmp()
    Snapshots.init(spark, root, (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v"))
    Snapshots.append(spark, root, Seq((101L, 101.0)).toDF("k", "v"))
    Snapshots.deleteWhereMor(spark, root, "k <= 10")
    // appends-only tailing refuses the DV commit (rows changed, no files)
    intercept[IllegalStateException](TableSync.appendsBetween(spark, root, 1, 2))
    assert(TableSync.appendsBetween(spark, root, 1, 2, skipRewrites = true)._2 == 0)

    // front door (spark.read) must NOT resurrect deleted rows — and the
    // DeletionVectorsRule keeps the NATIVE scan (vectorized parquet +
    // broadcast anti-join on _metadata positions, no RDD bridge)
    val front = spark.read.format("graft.sources.SnapshotSource").load(root)
    assert(front.count() == 91)
    assert(front.where(col("k") <= 10).count() == 0)
    assert(front.where(col("k").between(20, 29)).agg(sum("v")).as[Double].head()
      == (20 to 29).map(_.toDouble).sum)
    val q = front.where(col("k").between(5, 25)).select("k")
    q.collect()
    val finalPlan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.flatMap {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(qs.plan)
        case _ => Nil
      }
    assert(scans(finalPlan).nonEmpty,
      s"DV front door must plan a native FileSourceScanExec, got:\n$finalPlan")
    // the rule re-pushes the predicate beneath the injected anti-join:
    // row-group pushdown must SURVIVE on the DV-filtered scan
    val mainScan = scans(finalPlan)
      .find(_.metadata("Location").contains("SnapshotFileIndex"))
      .getOrElse(fail("no SnapshotFileIndex scan in the DV plan"))
    assert(mainScan.metadata("PushedFilters").contains("GreaterThanOrEqual(k,5)"),
      s"predicate must still push to the parquet scan under the DV join: " +
        s"${mainScan.metadata("PushedFilters")}")
    // (was `a || b == false`, which precedence made vacuously true —
    // the broadcast pin must be strict)
    assert(finalPlan.toString.contains("BroadcastHashJoin"),
      s"the DV anti-join must broadcast the sidecar:\n$finalPlan")
    assert(!finalPlan.toString.contains("BroadcastNestedLoopJoin"),
      "the DV anti-join must be a hash join, never a nested loop")
    assert(q.as[Long].collect().toSet == (11L to 25L).toSet)
    // versionAsOf before the delete still reads everything natively
    assert(spark.read.format("graft.sources.SnapshotSource")
      .option("versionAsOf", 1).load(root).count() == 101)

    // restore to the pre-delete version undoes the DV logically
    Snapshots.restore(spark, root, 1L)
    assert(Snapshots.readVersion(spark, root).count() == 101)
    // and restore BACK to the DV version re-applies it
    Snapshots.restore(spark, root, 2L)
    assert(Snapshots.readVersion(spark, root).count() == 91)

    // vacuum keeps DV dirs any retained version still names
    val headV = Snapshots.latestVersion(spark, root)
    Snapshots.vacuum(spark, root, keepFrom = headV)
    assert(Snapshots.readVersion(spark, root).count() == 91,
      "the retained head still applies its deletion vector after vacuum")
  }

  test("graft.dv.maxRows auto-materializes once accumulated vectors cross the bound") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 200L).map(i => (i, i * 1.0)).toDF("k", "v"),
      Map(Snapshots.dvMaxRowsProp -> "25"))
    // 20 DV rows: under the cap — vector stays live, zero rewrites
    Snapshots.deleteWhereMor(spark, root, "k <= 20")
    assert(Snapshots.liveDeletionVectors(spark, root).nonEmpty)
    assert(Snapshots.readVersion(spark, root).count() == 180)
    // +15 rows crosses 25: the write-side valve materializes
    Snapshots.deleteWhereMor(spark, root, "k <= 35")
    assert(Snapshots.liveDeletionVectors(spark, root).isEmpty,
      "crossing the cap reclaims the read-side anti-join")
    assert(Snapshots.readVersion(spark, root).select("k").as[Long].collect().sorted.toSeq
      == (36L to 200L), "content exact after the auto-materialize")
  }

  test("materialization rebases over a concurrent append: base vectors are not 'new winner vectors'") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 300L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(3, col("k")).sortWithinPartitions("k"))
    val file1 = Snapshots.statsCandidateFiles(spark, root, 0, "k <= 100").head
    // v1: a MOR delete covering ALL of file1 (so materializing = dropping it)
    assert(Snapshots.deleteWhereMor(spark, root, "k <= 100") == 1L)
    val vec = Snapshots.readDelta(spark, root, 1L).dvAdd.get
    val v1Delta = Snapshots.readDelta(spark, root, 1L)
    // winner: a pure append commits v2, still carrying the base vector
    Snapshots.append(spark, root, Seq((400L, 400.0)).toDF("k", "v"))
    // loser: a materialize COMPUTED AGAINST v1 (drops the vector, removes
    // the fully-deleted file) races at v2 — must rebase, not conflict:
    // the winner carrying the dropped vector is not a new winner vector
    val d = Snapshots.Delta(Nil, Seq(file1), schema = v1Delta.schema,
      props = v1Delta.props, op = Some("optimize"), dv = Nil)
    val v3 = Snapshots.commitRewriteRetry(spark, root, 2L, d, dvDropped = Seq(vec))
    assert(v3 == 3L, "the materialize rebased onto the winner")
    assert(Snapshots.liveDeletionVectors(spark, root).isEmpty,
      "the rebase must not resurrect the materialized vector")
    assert(Snapshots.readVersion(spark, root).select("k").as[Long].collect().sorted.toSeq
      == ((101L to 300L) :+ 400L), "winner's append and the materialize both land")
  }

  private def finalPlanOf(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p.flatMap {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => fileScans(qs.plan)
      case _ => Nil
    }

  test("DV application is size-bounded: past the broadcast cap the anti-join shuffles, rows identical") {
    val root = tmp()
    Snapshots.init(spark, root, (1L to 200L).map(i => (i, i * 1.0)).toDF("k", "v"))
    Snapshots.deleteWhereMor(spark, root, "k <= 20")
    def front = spark.read.format("graft.sources.SnapshotSource").load(root)
    val abjt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set(graft.sources.DeletionVectorsRule.broadcastMaxBytesKey, "1")
      // the cap only drops the FORCED hint; silence Catalyst's own
      // estimate-based auto-broadcast so the test pins the hint's absence
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = front.select("k")
      val plan = finalPlanOf(q)
      val s = plan.toString
      assert(!s.contains("BroadcastHashJoin"),
        s"a DV past the cap must NOT broadcast:\n$s")
      assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin"),
        s"the equi-join on (file_path,row_index) must shuffle instead:\n$s")
      assert(q.as[Long].collect().sorted.toSeq == (21L to 200L),
        "the shuffled DV application filters exactly the same rows")
    } finally {
      spark.conf.unset(graft.sources.DeletionVectorsRule.broadcastMaxBytesKey)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abjt)
    }
    // back under the cap: broadcast again
    val s2 = finalPlanOf(front.select("k")).toString
    assert(s2.contains("BroadcastHashJoin"), s"small DV broadcasts:\n$s2")
  }

  test("DV scan is column-pruned: a narrow projection reads narrow, plus _metadata") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0, s"a$i", s"b$i", s"c$i", s"d$i"))
        .toDF("k", "v", "c3", "c4", "c5", "c6"))
    Snapshots.deleteWhereMor(spark, root, "k <= 10")
    val front = spark.read.format("graft.sources.SnapshotSource").load(root)
    val q = front.select("k")
    val plan = finalPlanOf(q)
    val mainScan = fileScans(plan)
      .find(_.metadata("Location").contains("SnapshotFileIndex"))
      .getOrElse(fail(s"no SnapshotFileIndex scan:\n$plan"))
    val readCols = mainScan.requiredSchema.fieldNames.toSet
    assert(readCols.intersect(Set("v", "c3", "c4", "c5", "c6")).isEmpty,
      s"a k-only projection of a DV-carrying 6-column table must not read " +
        s"the other five data columns: $readCols")
    assert(q.as[Long].collect().sorted.toSeq == (11L to 100L))
  }

  test("a query naming _metadata explicitly over a DV table reuses the resolved column") {
    val root = tmp()
    Snapshots.init(spark, root, (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v"))
    Snapshots.deleteWhereMor(spark, root, "k <= 5")
    val front = spark.read.format("graft.sources.SnapshotSource").load(root)
    val got = front.select(col("k"), col("_metadata.file_path").as("fp"))
    assert(got.select("k").as[Long].collect().sorted.toSeq == (6L to 50L),
      "explicit _metadata reads still apply the deletion vector")
    assert(got.select("fp").distinct().as[String].collect()
      .forall(_.contains("/data/")), "file_path resolves to real data files")
  }

  test("a whole-version OPTIMIZE drops the vectors its read applied; a scoped one keeps them") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(4))
    Snapshots.deleteWhereMor(spark, root, "k <= 10")
    assert(Snapshots.liveDeletionVectors(spark, root).nonEmpty)
    Snapshots.optimizeCow(spark, root, Seq("k"), 2)
    assert(Snapshots.liveDeletionVectors(spark, root).isEmpty,
      "every live file was rewritten from a vector-applied read")
    assert(Snapshots.readVersion(spark, root).select("k").as[Long].collect().sorted.toSeq
      == (11L to 100L))
    val front = spark.read.format("graft.sources.SnapshotSource").load(root)
    val antiJoins = front.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(antiJoins.isEmpty, front.queryExecution.optimizedPlan)
    assert(front.agg(sum("k")).head().getLong(0) == (11L to 100L).sum)
    assert(Snapshots.rowCount(spark, root).contains(90L), "COUNT(*) from the log again")
    Snapshots.dropFeature(spark, root, "deletionVectors")
    assert(Snapshots.readVersion(spark, root).count() == 90)

    // a partition-scoped rewrite leaves files outside its scope, with
    // their vectors
    val proot = tmp()
    Snapshots.init(spark, proot,
      (1L to 100L).map(i => (i, i % 2)).toDF("k", "p"), Map("graft.partitionBy" -> "p"))
    Snapshots.deleteWhereMor(spark, proot, "k <= 10")
    val dv = Snapshots.liveDeletionVectors(spark, proot)
    Snapshots.optimizeCow(spark, proot, Seq("k"), 1, where = Some("p = 0"))
    assert(Snapshots.liveDeletionVectors(spark, proot) == dv)
    assert(Snapshots.readVersion(spark, proot).select("k").as[Long].collect().sorted.toSeq
      == (11L to 100L))
  }
}
