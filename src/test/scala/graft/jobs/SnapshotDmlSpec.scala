package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEvents, TestSpark}

/** Predicate DML on the snapshot log — `deleteWhere`/`updateWhere`
  * (stats-pruned COW rewrites) and the SQL router (`SnapshotSql`): SQL
  * MERGE/UPDATE/DELETE/INSERT produce the identical commits as the
  * programmatic API; and the Spark jobs each DELETE/UPDATE route
  * submits. */
class SnapshotDmlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("dml").toFile.getAbsolutePath + "/t"

  /** Clustered 3-file table over k ∈ [1,300]: file envelopes are tight,
    * so stats candidate selection is observable. */
  private def clustered(root: String): Unit =
    Snapshots.init(spark, root,
      (1L to 300L).map(i => (i, i * 1.0, s"s$i")).toDF("k", "v", "s")
        .repartitionByRange(3, col("k")).sortWithinPartitions("k"))

  test("deleteWhere: stats-envelope pruning rewrites only intersecting files; rows exact") {
    val root = tmp()
    clustered(root)
    val before = Snapshots.versionFiles(spark, root, 0)
    assert(before.size == 3)
    // candidates: only the file whose [min,max] intersects [1,50]
    val cands = Snapshots.statsCandidateFiles(spark, root, 0, "k <= 50")
    assert(cands.size == 1, s"one of three clustered files intersects k<=50: $cands")
    val v = Snapshots.deleteWhere(spark, root, "k <= 50")
    assert(v == 1L)
    val d = Snapshots.readDelta(spark, root, 1L)
    assert(d.removes.size == 1, s"only the intersecting file is rewritten: ${d.removes}")
    // the other two files carry over by reference (identical entries;
    // versionFiles is absolute, the delta is log-relative)
    val after = Snapshots.versionFiles(spark, root, 1).map(_.split("/data/").last).toSet
    val beforeRel = before.map(_.split("/data/").last)
    val removesRel = d.removes.map(_.stripPrefix("data/")).toSet
    assert(beforeRel.filterNot(removesRel.contains).forall(after.contains))
    assert(Snapshots.readVersion(spark, root).select("k").as[Long].collect().sorted.toSeq
      == (51L to 300L))
    // history intact
    assert(Snapshots.readVersion(spark, root, 0).count() == 300)
    // NULL predicate rows survive (SQL DELETE kills only pred=TRUE)
    val root2 = tmp()
    Snapshots.init(spark, root2,
      Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0))).toDF("k", "v"))
    Snapshots.deleteWhere(spark, root2, "v < 2.0")
    assert(Snapshots.readVersion(spark, root2).select("k").as[Long].collect().sorted.toSeq
      == Seq(2L, 3L), "the null-v row survives")
  }

  test("deleteWhere publishes a delete feed; no-match predicate is a metadata no-op") {
    val root = tmp()
    clustered(root)
    Snapshots.deleteWhere(spark, root, "k BETWEEN 10 AND 12", changeFeed = true)
    val feed = Snapshots.changesBetween(spark, root, 0, 1)
    assert(feed.select("k", ChangeFeed.opCol).as[(Long, String)].collect().toSet
      == Set((10L, "delete"), (11L, "delete"), (12L, "delete")))
    // predicate provably outside every envelope: zero files touched
    val v = Snapshots.deleteWhere(spark, root, "k > 100000")
    assert(Snapshots.readDelta(spark, root, v).adds.isEmpty)
    assert(Snapshots.readDelta(spark, root, v).removes.isEmpty)
  }

  test("updateWhere: SET applies only where predicate is TRUE; schema invariant; feed published") {
    val root = tmp()
    clustered(root)
    val cands = Snapshots.statsCandidateFiles(spark, root, 0, "k BETWEEN 101 AND 110")
    assert(cands.size == 1)
    val v = Snapshots.updateWhere(spark, root,
      Map("v" -> "v * 10", "s" -> "concat(s, '!')"), "k BETWEEN 101 AND 110",
      changeFeed = true)
    assert(Snapshots.readDelta(spark, root, v).removes.size == 1)
    val head = Snapshots.readVersion(spark, root)
    assert(head.where(col("k") === 105).select("v", "s").as[(Double, String)].head()
      == ((1050.0, "s105!")))
    assert(head.where(col("k") === 5).select("v", "s").as[(Double, String)].head()
      == ((5.0, "s5")))
    assert(head.count() == 300, "UPDATE keeps every row")
    assert(head.schema == Snapshots.readVersion(spark, root, 0).schema)
    val feed = Snapshots.changesBetween(spark, root, 0, 1)
    val ops = feed.groupBy(ChangeFeed.opCol).count()
      .as[(String, Long)].collect().toMap
    assert(ops == Map("update_preimage" -> 10L, "update_postimage" -> 10L))
    // updating a partition column is refused (rows would cross partitions)
    val root2 = tmp()
    Snapshots.init(spark, root2,
      Seq((1L, 2024, "a")).toDF("k", "year", "s"),
      Map("graft.partitionBy" -> "year"))
    intercept[IllegalArgumentException](
      Snapshots.updateWhere(spark, root2, Map("year" -> "2025"), "k = 1"))
  }

  test("partition-column predicates prune candidates from path values alone") {
    val root = tmp()
    Snapshots.init(spark, root,
      Seq((1L, 2024, "a"), (2L, 2024, "b"), (3L, 2025, "c"))
        .toDF("k", "year", "s"),
      Map("graft.partitionBy" -> "year"))
    val cands = Snapshots.statsCandidateFiles(spark, root, 0, "year = 2025")
    assert(cands.nonEmpty && cands.forall(_.contains("year=2025")),
      s"partition values must act as point envelopes: $cands")
    Snapshots.deleteWhere(spark, root, "year = 2025")
    assert(Snapshots.readVersion(spark, root).select("k").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
  }

  test("applyCdcBatch: sequential per-commit feeds rebuild the source exactly, exactly-once") {
    val src = tmp(); val dst = tmp()
    Snapshots.init(spark, src,
      (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(2))
    Snapshots.mergeCow(spark, src,
      Seq((1L, 100.0), (60L, 60.0)).toDF("k", "v"), Seq("k"), changeFeed = true)
    Snapshots.deleteKeysCow(spark, src, Seq(2L, 3L).toDF("k"), Seq("k"), changeFeed = true)
    // replay commit by commit
    (0L to 2L).foreach { v =>
      val feed = Snapshots.changesBetween(spark, src, v - 1, v)
      assert(Snapshots.applyCdcBatch(spark, dst, feed, Seq("k"), v))
    }
    def canon(r: String) = Snapshots.readVersion(spark, r)
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(canon(dst) == canon(src), "replica converges to the source head")
    // a replayed batch id is a recognized no-op
    assert(!Snapshots.applyCdcBatch(spark, dst,
      Snapshots.changesBetween(spark, src, 1, 2), Seq("k"), 2L))
    assert(canon(dst) == canon(src))
    // only files holding affected keys were rewritten on the delete step
    val d = Snapshots.readDelta(spark, dst, 2L)
    assert(d.removes.nonEmpty &&
      d.removes.size < Snapshots.versionFiles(spark, dst, 1).size ||
      Snapshots.versionFiles(spark, dst, 1).size == 1)
  }

  test("SQL DELETE / UPDATE / MERGE / INSERT route to the identical commits") {
    val rootApi = tmp(); val rootSql = tmp()
    clustered(rootApi); clustered(rootSql)
    SnapshotSql.register("dml_t", rootSql)

    // DELETE
    Snapshots.deleteWhere(spark, rootApi, "k <= 50")
    SnapshotSql.sql(spark, "DELETE FROM dml_t WHERE k <= 50")
    // UPDATE with alias qualifiers
    Snapshots.updateWhere(spark, rootApi, Map("v" -> "v + 0.5"), "k BETWEEN 60 AND 70")
    SnapshotSql.sql(spark,
      "UPDATE dml_t AS t SET t.v = t.v + 0.5 WHERE t.k BETWEEN 60 AND 70")
    // MERGE from a temp view
    Seq((60L, -1.0, "merged"), (1000L, 1000.0, "new"))
      .toDF("k", "v", "s").createOrReplaceTempView("dml_src")
    Snapshots.mergeCow(spark, rootApi,
      spark.table("dml_src"), Seq("k"), changeFeed = true)
    SnapshotSql.sql(spark,
      """MERGE INTO dml_t t USING dml_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin, changeFeed = true)
    // INSERT INTO
    Snapshots.append(spark, rootApi,
      Seq((2000L, 2.0, "ins")).toDF("k", "v", "s"))
    SnapshotSql.sql(spark,
      "INSERT INTO dml_t SELECT 2000L AS k, CAST(2.0 AS DOUBLE) AS v, 'ins' AS s")

    def canon(root: String) = Snapshots.readVersion(spark, root)
      .orderBy("k").as[(Long, Double, String)].collect().toSeq
    assert(canon(rootApi) == canon(rootSql), "API and SQL routes converge")
    // and the change feeds agree (the MERGE commit is version 3 on both)
    def feed(root: String) = Snapshots.changesBetween(spark, root, 2, 3)
      .orderBy("k", ChangeFeed.opCol)
      .as[(Long, Double, String, String)].collect().toSeq
    assert(feed(rootApi) == feed(rootSql))

    // path-addressed spelling works without registration
    val n0 = Snapshots.readVersion(spark, rootSql).count()
    SnapshotSql.sql(spark, s"DELETE FROM graft.`$rootSql` WHERE k = 2000")
    assert(Snapshots.readVersion(spark, rootSql).count() == n0 - 1)
    // morDelete routes the same statement through a deletion vector
    SnapshotSql.sql(spark, s"DELETE FROM graft.`$rootSql` WHERE k = 1000",
      morDelete = true)
    assert(Snapshots.readVersion(spark, rootSql).count() == n0 - 2)
    assert(Snapshots.liveDeletionVectors(spark, rootSql).nonEmpty,
      "the SQL MOR delete committed a vector, not a rewrite")

    // INSERT OVERWRITE: full truncate on an unpartitioned table…
    val n1 = Snapshots.readVersion(spark, rootSql).count()
    assert(n1 > 1)
    SnapshotSql.sql(spark,
      s"INSERT OVERWRITE graft.`$rootSql` SELECT 1L AS k, CAST(1.0 AS DOUBLE) AS v, 'only' AS s")
    assert(Snapshots.readVersion(spark, rootSql).count() == 1)
    // …static PARTITION spec → replaceWhere of exactly that partition…
    val partRoot = tmp()
    Snapshots.init(spark, partRoot,
      Seq((1L, 2024, "a"), (2L, 2024, "b"), (3L, 2025, "c")).toDF("k", "year", "s"),
      Map("graft.partitionBy" -> "year"))
    SnapshotSql.sql(spark,
      s"INSERT OVERWRITE graft.`$partRoot` PARTITION (year=2024) SELECT 10L AS k, 'x' AS s")
    assert(Snapshots.readVersion(spark, partRoot).orderBy("k")
      .select("k", "year").as[(Long, Int)].collect().toSeq
      == Seq((3L, 2025), (10L, 2024)), "2024 replaced, 2025 carried")
    // …and no spec under dynamic mode → overwritePartitions
    SnapshotSql.sql(spark,
      s"INSERT OVERWRITE graft.`$partRoot` SELECT 20L AS k, 2025 AS year, 'y' AS s")
    assert(Snapshots.readVersion(spark, partRoot).orderBy("k")
      .select("k", "year").as[(Long, Int)].collect().toSeq
      == Seq((10L, 2024), (20L, 2025)), "2025 replaced by the batch, 2024 carried")

    // unsupported MERGE shapes still fail loudly (non-equi ON clause)
    intercept[IllegalArgumentException](SnapshotSql.sql(spark,
      """MERGE INTO dml_t t USING dml_src s ON t.k < s.k
        |WHEN MATCHED THEN DELETE""".stripMargin))
    SnapshotSql.unregister("dml_t")
  }

  test("predicate DML Spark jobs per route, feed on and off; no MOR route reads back its vector") {
    // 3,000 rows in 6 range files, with a live vector over every file
    def table(): String = {
      val root = tmp()
      Snapshots.init(spark, root,
        (1L to 3000L).map(i => (i, i * 1.0, s"s$i")).toDF("k", "v", "s")
          .repartitionByRange(6, col("k")).sortWithinPartitions("k"))
      Snapshots.deleteWhereMor(spark, root, "k % 100 = 7")
      root
    }
    // directories the recorded queries scanned
    def scanned(e: SparkEvents): Seq[String] = e.queries.flatMap { case (_, qe) =>
      qe.optimizedPlan.collect { case l: LogicalRelation => l.relation }
        .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toString) }.flatten
    }
    val pred = "k BETWEEN 100 AND 700"
    val set = Map("v" -> "-v")
    // the same rows by key: the live keys the predicate matches, and the
    // update's change set as one CDC batch (applyCdcBatch has no feed)
    val keys = (100L to 700L).filterNot(_ % 100 == 7)
    val updateBatch = keys.flatMap(k => Seq((k, k * 1.0, s"s$k", "update_preimage"),
      (k, -k * 1.0, s"s$k", "update_postimage"))).toDF("k", "v", "s", ChangeFeed.opCol)
    // route → (feed off, feed on) job bounds
    val routes = Seq[(String, (String, Boolean) => Long, (Int, Int))](
      ("deleteKeysCow", (r, f) => Snapshots.deleteKeysCow(spark, r, keys.toDF("k"), Seq("k"), f), (9, 11)),
      ("applyCdcBatch", (r, _) => {
        assert(Snapshots.applyCdcBatch(spark, r, updateBatch, Seq("k"), 100L))
        Snapshots.latestVersion(spark, r)
      }, (13, 13)),
      ("deleteWhere", (r, f) => Snapshots.deleteWhere(spark, r, pred, f), (5, 7)),
      ("deleteWhereMor", (r, f) => Snapshots.deleteWhereMor(spark, r, pred, f), (2, 4)),
      ("updateWhere", (r, f) => Snapshots.updateWhere(spark, r, set, pred, f), (5, 7)),
      ("updateWhereMor", (r, f) => Snapshots.updateWhereMor(spark, r, set, pred, f), (4, 6)),
      // every row the predicate matches is already under the live vector
      ("deleteWhereMor, no row", (r, f) => Snapshots.deleteWhereMor(spark, r, "k % 100 = 7", f), (2, 2)),
      ("updateWhereMor, no row", (r, f) => Snapshots.updateWhereMor(spark, r, set, "k % 100 = 7", f), (2, 2)),
      // the optimizer folds the candidate scan to an empty relation
      ("deleteWhereMor, false, no row", (r, f) => Snapshots.deleteWhereMor(spark, r, "1 = 0", f), (1, 1)))
    val counts = for ((name, dml, (offMax, onMax)) <- routes;
        feed <- if (name == "applyCdcBatch") Seq(false) else Seq(false, true)) yield {
      val root = table()
      val v = Snapshots.latestVersion(spark, root) + 1
      val (committed, events) = SparkEvents.record(spark)(dml(root, feed))
      assert(committed == v)
      val ownDv = f"/_dv/v$v%08d-"
      assert(!scanned(events).exists(_.contains(ownDv)),
        s"$name (feed $feed) read back the vector it wrote: ${scanned(events).filter(_.contains(ownDv))}")
      val rows = Snapshots.readVersion(spark, root)
      if (name.endsWith("no row")) {
        assert(Snapshots.readDelta(spark, root, v).dvAdd.isEmpty && rows.count() == 2970L)
        assert(!new java.io.File(root, "_dv").list().exists(_.startsWith(f"v$v%08d-")))
      } else if (name.startsWith("delete")) assert(rows.count() == 2970L - 595L)
      else assert(rows.where(col("v") < 0).count() == 595L && rows.count() == 2970L)
      if (feed) assert(Snapshots.changesBetween(spark, root, v - 1, v).count() ==
        (if (name.endsWith("no row")) 0L else if (name.startsWith("delete")) 595L else 1190L))
      val bound = if (feed) onMax else offMax
      assert(events.jobs <= bound, s"$name (feed $feed) submitted ${events.jobs} jobs, bound $bound")
      s"$name/${if (feed) "feed" else "no feed"}=${events.jobs}"
    }
    info(counts.mkString(", "))
  }
}
