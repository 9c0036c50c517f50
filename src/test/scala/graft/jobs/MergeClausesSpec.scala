package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEvents, TestSpark}

/** Clause-level MERGE (`Snapshots.mergeClauses` + the SnapshotSql route):
  * conditional WHEN MATCHED UPDATE/DELETE, column-level SET, conditional
  * INSERT with column lists, and WHEN NOT MATCHED BY SOURCE — verified
  * against straight relational recomputation, plus the change feed, the
  * file-grain rewrite contract, the star actions' whole-row meaning and
  * the Spark jobs one merge submits. */
class MergeClausesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("mrgc").toFile.getAbsolutePath + "/t"

  /** 3-file clustered target over k ∈ [1,300], v = k, s = "s<k>". */
  private def target(root: String): Unit =
    Snapshots.init(spark, root,
      (1L to 300L).map(i => (i, i * 1.0, s"s$i")).toDF("k", "v", "s")
        .repartitionByRange(3, col("k")).sortWithinPartitions("k"))

  /** Source: keys 1..60 step 3 (matched, half get big v) plus 1001..1005
    * (unmatched, one negative — filtered by the insert condition). */
  private def source() =
    ((1L to 60L by 3L).map(k => (k, if (k % 2 == 0) 500.0 else -1.0, s"u$k")) ++
      (1001L to 1005L).map(k => (k, if (k == 1003L) -9.0 else k * 1.0, s"n$k")))
      .toDF("k", "v", "s")

  test("conditional matched UPDATE + DELETE and conditional column INSERT match the relational recompute") {
    val root = tmp()
    target(root)
    val v = Snapshots.mergeClauses(spark, root, source(), Seq("k"),
      matched = Seq(
        Snapshots.MergeWhen.delete(Some("s.v < 0")),
        Snapshots.MergeWhen.update(
          Map("v" -> "s.v + t.v", "s" -> "concat(t.s, '+', s.s)"))),
      notMatched = Seq(
        Snapshots.MergeWhen.insert(
          Map("k" -> "s.k", "v" -> "s.v"), Some("s.v >= 0"))),
      changeFeed = true)
    assert(v == 1L)
    // relational recompute of the same clauses
    val matchedKeys = (1L to 60L by 3L)
    val deleted = matchedKeys.filter(k => k % 2 != 0).toSet   // s.v < 0
    val updated = matchedKeys.filter(k => k % 2 == 0).toSet   // s.v = 500
    val expect = (1L to 300L).filterNot(deleted).map { k =>
      if (updated(k)) (k, 500.0 + k, s"s$k+u$k") else (k, k * 1.0, s"s$k")
    } ++ Seq(1001L, 1002L, 1004L, 1005L).map(k => (k, k * 1.0, null))
    val got = Snapshots.readVersion(spark, root)
      .orderBy("k").as[(Long, Double, String)].collect().toSeq
    assert(got == expect.sortBy(_._1), "clause cascade equals the relational recompute")
    // change feed ops equal the relational diff
    val feed = Snapshots.changesBetween(spark, root, 0, 1)
    val ops = feed.groupBy(ChangeFeed.opCol).count().as[(String, Long)].collect().toMap
    assert(ops == Map(
      "delete" -> deleted.size.toLong,
      "update_preimage" -> updated.size.toLong,
      "update_postimage" -> updated.size.toLong,
      "insert" -> 4L))
    // file-grain: only files holding matched keys were rewritten
    val d = Snapshots.readDelta(spark, root, 1L)
    assert(d.removes.size == 1, s"matched keys 1..60 live in one clustered file: ${d.removes}")
    // history intact
    assert(Snapshots.readVersion(spark, root, 0).count() == 300)
  }

  test("first-applicable-clause wins: clause order decides when conditions overlap") {
    val root = tmp()
    Snapshots.init(spark, root, Seq((1L, 10.0)).toDF("k", "v"))
    Snapshots.mergeClauses(spark, root, Seq((1L, 99.0)).toDF("k", "v"), Seq("k"),
      matched = Seq(
        Snapshots.MergeWhen.update(Map("v" -> "-1"), Some("s.v > 0")),
        Snapshots.MergeWhen.delete()))
    assert(Snapshots.readVersion(spark, root).as[(Long, Double)].collect().toSeq
      == Seq((1L, -1.0)), "the earlier conditional update shadows the later delete")
  }

  test("WHEN NOT MATCHED BY SOURCE updates/deletes target rows with no source key") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 10L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(2))
    Snapshots.mergeClauses(spark, root,
      Seq((1L, 100.0), (2L, 200.0)).toDF("k", "v"), Seq("k"),
      matched = Seq(Snapshots.MergeWhen.updateAll()),
      notMatchedBySource = Seq(
        Snapshots.MergeWhen.delete(Some("t.k > 8")),
        Snapshots.MergeWhen.update(Map("v" -> "t.v * -1"))),
      changeFeed = true)
    val got = Snapshots.readVersion(spark, root)
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 100.0), (2L, 200.0)) ++
      (3L to 8L).map(k => (k, k * -1.0)),
      "matched rows upserted, k>8 deleted, the rest negated")
    // a source-column reference on the NOT MATCHED BY SOURCE side is refused
    intercept[IllegalArgumentException] {
      Snapshots.mergeClauses(spark, root, Seq((1L, 1.0)).toDF("k", "v"), Seq("k"),
        notMatchedBySource = Seq(Snapshots.MergeWhen.update(Map("v" -> "s.v"))))
    }
  }

  test("NMBS candidate selection is file-grain: untouched files carry by reference") {
    val root = tmp()
    target(root) // 3 range-clustered files: k 1..~100, ~101..~200, ~201..300
    val before = Snapshots.versionFiles(spark, root).toSet
    assert(before.size == 3)
    // every source key matches (no matched clause given — they keep);
    // the NMBS clause can only touch rows with k > 250, which live in
    // exactly ONE of the three clustered files
    Snapshots.mergeClauses(spark, root,
      Seq((10L, 0.0, "x")).toDF("k", "v", "s"), Seq("k"),
      notMatchedBySource = Seq(
        Snapshots.MergeWhen.update(Map("v" -> "t.v + 1000"), Some("t.k > 250"))))
    val after = Snapshots.versionFiles(spark, root).toSet
    val carried = before.intersect(after)
    assert(carried.size == 2,
      s"expected the two clause-untouched files carried by reference, got ${carried.size}")
    val got = Snapshots.readVersion(spark, root)
      .where(col("k") > 250).agg(min(col("v"))).head().getDouble(0)
    assert(got == 1251.0, "NMBS update applied to every k>250 row")
    assert(Snapshots.readVersion(spark, root).where(col("k") <= 250 && col("v") >= 1000).isEmpty)
  }

  test("multiple source rows matching one target row are refused (ANSI), opt-out restores dedup") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 10L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(2))
    val dupSrc = Seq((3L, 30.0), (3L, 31.0), (4L, 40.0)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeClauses(spark, root, dupSrc, Seq("k"),
        matched = Seq(Snapshots.MergeWhen.updateAll()))
    }
    assert(e.getMessage.contains("multiple source rows"))
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.mergeCow(spark, root, dupSrc, Seq("k"))
    }
    assert(e2.getMessage.contains("multiple source rows"))
    // duplicates that match NO target row are deduplicated before
    // INSERT, not refused (documented divergence from ANSI insert-all)
    Snapshots.mergeClauses(spark, root,
      Seq((100L, 1.0), (100L, 1.0)).toDF("k", "v"), Seq("k"),
      matched = Seq(Snapshots.MergeWhen.updateAll()),
      notMatched = Seq(Snapshots.MergeWhen.insertAll()))
    assert(Snapshots.readVersion(spark, root).where(col("k") === 100L).count() == 1L)
    // the escape hatch applies an arbitrary duplicate instead of failing
    spark.conf.set("spark.graft.merge.allowDuplicateSource", "true")
    try {
      Snapshots.mergeCow(spark, root, dupSrc, Seq("k"))
      val v3 = Snapshots.readVersion(spark, root)
        .where(col("k") === 3L).select(col("v")).as[Double].collect().toSeq
      assert(v3.size == 1 && (v3.head == 30.0 || v3.head == 31.0))
    } finally spark.conf.unset("spark.graft.merge.allowDuplicateSource")
  }

  test("a lone unconditional MATCHED DELETE admits duplicate source keys; a conditional one does not") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 10L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(2))
    val dupKeys = Seq(3L, 3L, 4L, 4L, 4L, 99L).toDF("k")
    // every match deletes the same row, so duplicates are not ambiguous
    val v1 = Snapshots.mergeClauses(spark, root, dupKeys, Seq("k"),
      matched = Seq(Snapshots.MergeWhen.delete()))
    val v2 = Snapshots.deleteKeysCow(spark, root, Seq(5L, 5L).toDF("k"), Seq("k"))
    assert((v1, v2) == ((1L, 2L)))
    assert(Snapshots.readVersion(spark, root).select("k").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 6L, 7L, 8L, 9L, 10L))
    assert(Snapshots.readDelta(spark, root, 1L).op.contains("merge"))
    assert(Snapshots.readDelta(spark, root, 2L).op.contains("delete"))
    // a condition makes the choice of duplicate matter: still refused
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeClauses(spark, root, Seq((6L, 1.0), (6L, 2.0)).toDF("k", "v"), Seq("k"),
        matched = Seq(Snapshots.MergeWhen.delete(Some("s.v > 1"))))
    }
    assert(e.getMessage.contains("multiple source rows"))
    // so is an unconditional DELETE followed by another MATCHED clause
    intercept[IllegalArgumentException] {
      Snapshots.mergeClauses(spark, root, Seq((6L, 1.0), (6L, 2.0)).toDF("k", "v"), Seq("k"),
        matched = Seq(Snapshots.MergeWhen.delete(), Snapshots.MergeWhen.updateAll()))
    }
    assert(Snapshots.latestVersion(spark, root) == 2L)
  }

  test("a star merge never copies the change feed's metadata columns into the table") {
    val root = tmp()
    target(root)
    val schema0 = Snapshots.readVersion(spark, root).schema
    // a feed-shaped source: rows plus _op, _commit_version, _commit_timestamp
    val src = Seq((1L, -1.0, "u1", "update_postimage", 7L), (400L, 400.0, "n400", "insert", 7L))
      .toDF("k", "v", "s", ChangeFeed.opCol, "_commit_version")
      .withColumn("_commit_timestamp", current_timestamp())
      .withColumn("extra", lit(1))
    Snapshots.mergeCow(spark, root, src, Seq("k"))
    val head = Snapshots.readVersion(spark, root)
    // the ordinary new column still widens the table; the metadata does not
    assert(head.schema.fieldNames.toSeq == schema0.fieldNames.toSeq :+ "extra")
    assert(head.where(col("k").isin(1L, 400L)).select("k", "v", "s").as[(Long, Double, String)]
      .collect().sorted.toSeq == Seq((1L, -1.0, "u1"), (400L, 400.0, "n400")))
    assert(head.count() == 301L)
  }

  test("a merge without INSERT that touches no file commits metadata only: no data file, no feed") {
    val root = tmp()
    target(root)
    val files0 = Snapshots.versionFiles(spark, root, 0).toSet
    val v1 = Snapshots.deleteKeysCow(spark, root, Seq(999L, 999L).toDF("k"), Seq("k"),
      changeFeed = true)
    val v2 = Snapshots.mergeClauses(spark, root, Seq((998L, 1.0)).toDF("k", "v"), Seq("k"),
      matched = Seq(Snapshots.MergeWhen.update(Map("v" -> "s.v"))), changeFeed = true)
    assert((v1, v2) == ((1L, 2L)))
    Seq(v1, v2).foreach { v =>
      val d = Snapshots.readDelta(spark, root, v)
      assert(d.adds.isEmpty && d.removes.isEmpty && d.cdf.isEmpty, s"v$v: $d")
      assert(Snapshots.versionFiles(spark, root, v).toSet == files0)
      assert(Snapshots.changesBetween(spark, root, v - 1, v).isEmpty)
    }
    assert(Snapshots.readDelta(spark, root, v1).op.contains("delete"))
    assert(Snapshots.readDelta(spark, root, v2).op.contains("merge"))
    assert(!new java.io.File(root, "_changes").exists(), "no feed directory was staged")
    assert(new java.io.File(root, "data").list().length == 1, "no data directory was written")
    assert(Snapshots.readVersion(spark, root).count() == 300L)
  }

  test("SQL MERGE with clauses routes through mergeClauses and equals the API result") {
    val rootApi = tmp(); val rootSql = tmp()
    target(rootApi); target(rootSql)
    source().createOrReplaceTempView("mrgc_src")
    Snapshots.mergeClauses(spark, rootApi, spark.table("mrgc_src"), Seq("k"),
      matched = Seq(
        Snapshots.MergeWhen.delete(Some("s.v < 0")),
        Snapshots.MergeWhen.update(Map("v" -> "s.v + t.v"))),
      notMatched = Seq(Snapshots.MergeWhen.insertAll(Some("s.v >= 0"))),
      changeFeed = true)
    SnapshotSql.sql(spark,
      s"""MERGE INTO graft.`$rootSql` t USING mrgc_src s ON t.k = s.k
         |WHEN MATCHED AND s.v < 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v + t.v
         |WHEN NOT MATCHED AND s.v >= 0 THEN INSERT *""".stripMargin,
      changeFeed = true)
    def canon(root: String) = Snapshots.readVersion(spark, root)
      .orderBy("k").as[(Long, Double, String)].collect().toSeq
    assert(canon(rootApi) == canon(rootSql))
    def feed(root: String) = Snapshots.changesBetween(spark, root, 0, 1)
      .orderBy("k", ChangeFeed.opCol)
      .as[(Long, Double, String, String)].collect().toSeq
    assert(feed(rootApi) == feed(rootSql), "SQL and API publish identical feeds")
  }

  test("SQL NOT MATCHED BY SOURCE + column-list INSERT VALUES") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 6L).map(i => (i, i * 1.0, "old")).toDF("k", "v", "s"))
    Seq((5L, 50.0), (6L, 60.0), (7L, 70.0)).toDF("k", "v")
      .createOrReplaceTempView("mrgc_src2")
    SnapshotSql.sql(spark,
      s"""MERGE INTO graft.`$root` t USING mrgc_src2 s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET t.v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, s) VALUES (s.k, 'fresh')
         |WHEN NOT MATCHED BY SOURCE AND t.k < 3 THEN DELETE""".stripMargin)
    val got = Snapshots.readVersion(spark, root)
      .orderBy("k").as[(Long, Option[Double], String)].collect().toSeq
    assert(got == Seq(
      (3L, Some(3.0), "old"), (4L, Some(4.0), "old"),
      (5L, Some(50.0), "old"), (6L, Some(60.0), "old"),
      (7L, None, "fresh")),
      "column-list INSERT nulls unassigned columns; NMBS delete pruned k<3")
  }

  test("a source column literally named 'exists' cannot shadow the matched marker") {
    val root = tmp()
    Snapshots.init(spark, root, Seq((1L, 1.0, true), (2L, 2.0, true))
      .toDF("k", "v", "exists"))
    Snapshots.mergeClauses(spark, root,
      Seq((1L, 10.0, false), (9L, 9.0, false)).toDF("k", "v", "exists"), Seq("k"),
      matched = Seq(Snapshots.MergeWhen.updateAll()),
      notMatched = Seq(Snapshots.MergeWhen.insertAll()))
    assert(Snapshots.readVersion(spark, root).orderBy("k")
      .as[(Long, Double, Boolean)].collect().toSeq
      == Seq((1L, 10.0, false), (2L, 2.0, true), (9L, 9.0, false)))
  }

  test("assignments cast to the target column type; unknown target columns are refused") {
    val root = tmp()
    Snapshots.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"))
    Snapshots.mergeClauses(spark, root, Seq((1L, 7)).toDF("k", "v"), Seq("k"),
      matched = Seq(Snapshots.MergeWhen.update(Map("v" -> "s.v"))))
    assert(Snapshots.readVersion(spark, root).schema("v").dataType
      == org.apache.spark.sql.types.DoubleType, "int source cast to double target")
    intercept[IllegalArgumentException] {
      Snapshots.mergeClauses(spark, root, Seq((1L, 1.0)).toDF("k", "v"), Seq("k"),
        matched = Seq(Snapshots.MergeWhen.update(Map("nope" -> "1"))))
    }
  }

  test("UPDATE SET * means one thing: mergeCow, the SQL upsert and a conditional star clause agree") {
    // a source lacking a table column (tag) on a table whose generated
    // column (v2) depends on the updated column (v)
    def table(): String = {
      val root = tmp()
      Snapshots.init(spark, root,
        (1L to 40L).map(i => (i, i * 1.0, s"t$i")).toDF("k", "v", "tag").repartition(2),
        Map("graft.generated.v2" -> "v * 2"))
      root
    }
    val src = ((5L to 20L).map(k => (k, -k * 1.0)) ++ (41L to 45L).map(k => (k, k * 1.0)))
      .toDF("k", "v")
    src.createOrReplaceTempView("mrgc_star_src")
    val (rootCow, rootSql, rootCond) = (table(), table(), table())
    Snapshots.mergeCow(spark, rootCow, src, Seq("k"), changeFeed = true)
    SnapshotSql.sql(spark,
      s"""MERGE INTO graft.`$rootSql` t USING mrgc_star_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin, changeFeed = true)
    SnapshotSql.sql(spark,
      s"""MERGE INTO graft.`$rootCond` t USING mrgc_star_src s ON t.k = s.k
         |WHEN MATCHED AND true THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin, changeFeed = true)
    def head(root: String) = Snapshots.readVersion(spark, root)
      .select("k", "v", "tag", "v2").orderBy("k")
      .as[(Long, Double, Option[String], Double)].collect().toSeq
    def feed(root: String) = Snapshots.changesBetween(spark, root, 0, 1)
      .select("k", "v", "tag", "v2", ChangeFeed.opCol).orderBy("k", ChangeFeed.opCol)
      .as[(Long, Double, Option[String], Double, String)].collect().toSeq
    val expect = (1L to 45L).map { k =>
      if (k >= 5L && k <= 20L) (k, -k * 1.0, None, -k * 2.0)
      else if (k > 40L) (k, k * 1.0, None, k * 2.0)
      else (k, k * 1.0, Some(s"t$k"), k * 2.0)
    }
    assert(head(rootCow) == expect,
      "whole-row upsert: missing column null-filled, generated column recomputed")
    assert(head(rootSql) == expect && head(rootCond) == expect)
    assert(feed(rootSql) == feed(rootCow) && feed(rootCond) == feed(rootCow),
      "the three routes publish identical feeds")
    assert(feed(rootCow).count(_._5 == "update_postimage") == 16)
  }

  test("NOT MATCHED BY SOURCE detection returns only candidate files to the driver") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 2000L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(20, col("k")).sortWithinPartitions("k"))
    val before = Snapshots.versionFiles(spark, root).toSet
    assert(before.size == 20)
    val (_, events) = SparkEvents.record(spark) {
      Snapshots.mergeClauses(spark, root, Seq((10L, 0.0)).toDF("k", "v"), Seq("k"),
        notMatchedBySource = Seq(
          Snapshots.MergeWhen.update(Map("v" -> "-t.v"), Some("t.k > 1950"))))
    }
    val rewritten = before -- Snapshots.versionFiles(spark, root).toSet
    assert(rewritten.size == 1, s"the clause touches one file: $rewritten")
    assert(events.collectedRows <= rewritten.size,
      s"collected ${events.collectedRows} rows for ${rewritten.size} candidate file(s)")
    assert(Snapshots.readVersion(spark, root).where(col("v") < 0).count() == 50)
  }

  test("one merge's Spark jobs: the whole-row upsert and the column-level merge stay pinned") {
    // 3,000 rows in 6 range files; 86 matched keys and 50 new ones
    def table(): String = {
      val root = tmp()
      Snapshots.init(spark, root,
        (1L to 3000L).map(i => (i, i * 1.0, s"s$i")).toDF("k", "v", "s")
          .repartitionByRange(6, col("k")).sortWithinPartitions("k"))
      root
    }
    def src() = ((1L to 600L by 7L).map(k => (k, -k * 1.0, s"u$k")) ++
      (3001L to 3050L).map(k => (k, k * 1.0, s"n$k"))).toDF("k", "v", "s")
    def jobs(merge: String => Long): Int = {
      val root = table()
      val (_, events) = SparkEvents.record(spark)(merge(root))
      assert(Snapshots.readVersion(spark, root).count() == 3050L)
      events.jobs
    }
    val cow = jobs(r => Snapshots.mergeCow(spark, r, src(), Seq("k")))
    val cowFeed = jobs(r => Snapshots.mergeCow(spark, r, src(), Seq("k"), changeFeed = true))
    val colFeed = jobs(r => Snapshots.mergeClauses(spark, r, src(), Seq("k"),
      matched = Seq(Snapshots.MergeWhen.update(Map("v" -> "s.v"))),
      notMatched = Seq(Snapshots.MergeWhen.insertAll()), changeFeed = true))
    assert(cow <= 9, s"whole-row upsert without a feed submitted $cow jobs")
    assert(cowFeed <= 14, s"whole-row upsert with a feed submitted $cowFeed jobs")
    assert(colFeed <= 14, s"column-level merge with a feed submitted $colFeed jobs")
  }
}
