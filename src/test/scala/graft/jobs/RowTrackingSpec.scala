package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Row tracking (`graft.rowTracking = true`): every row gets a STABLE
  * unique id (`_row_id`, engine-managed via the identity machinery)
  * that survives append / COPY / OPTIMIZE / REBUCKET / COW + MOR
  * UPDATE / MERGE — hidden from the catalog and spark.read front doors
  * unless `.option("rowIds", "true")` asks, carried by CDC feeds so a
  * consumer can follow one logical row across updates. */
class RowTrackingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("rowtrk").toFile.getAbsolutePath + "/t"

  private val trackProps = Map("graft.rowTracking" -> "true")

  private def idsByKey(root: String): Map[Long, Long] =
    Snapshots.readVersion(spark, root)
      .select(col("k").cast("long"), col("_row_id"))
      .as[(Long, Long)].collect().toMap

  test("ids allocate on init/append, stay hidden at the front doors, surface on request") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v"), trackProps)
    Snapshots.append(spark, root, Seq((101L, 101.0)).toDF("k", "v"))
    // unique, non-null ids on every row
    val ids = idsByKey(root)
    assert(ids.size == 101 && ids.values.toSet.size == 101)
    // front doors hide the column; the option surfaces it
    val plain = spark.read.format("graft.sources.SnapshotSource").load(root)
    assert(!plain.columns.contains("_row_id"), plain.columns.mkString(","))
    val withIds = spark.read.format("graft.sources.SnapshotSource")
      .option("rowIds", "true").load(root)
    assert(withIds.columns.contains("_row_id"))
    assert(withIds.select(countDistinct(col("_row_id"))).head().getLong(0) == 101)
    assert(!spark.sql(s"SELECT * FROM graft.`$root`").columns.contains("_row_id"))
    // the feature is stamped and surfaced
    val (_, _, _, wfeat) = Snapshots.protocol(spark, root)
    assert(wfeat.contains("rowTracking") && wfeat.contains("identityColumns"))
    // an init frame carrying _row_id is refused (engine-managed)
    intercept[IllegalArgumentException](Snapshots.init(spark, tmp(),
      Seq((1L, 1L)).toDF("k", "_row_id"), trackProps))
  }

  test("OPTIMIZE, REBUCKET and DV materialization preserve every id") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 200L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(4),
      trackProps ++ Map("graft.bucketBy" -> "k", "graft.buckets" -> "4"))
    val before = idsByKey(root)
    Snapshots.optimizeCompact(spark, root, 1L << 30, 1L << 30)
    assert(idsByKey(root) == before, "compaction is a logical no-op on ids")
    Snapshots.rebucket(spark, root, 8)
    assert(idsByKey(root) == before, "REBUCKET re-stamps buckets, not ids")
    Snapshots.deleteWhereMor(spark, root, "k % 50 = 0")
    val afterDel = idsByKey(root)
    assert(afterDel == before.filter { case (k, _) => k % 50 != 0 },
      "MOR delete removes exactly the doomed ids, keeps the rest")
    Snapshots.materializeDeletionVectors(spark, root)
    assert(idsByKey(root) == afterDel, "DV materialization preserves ids")
  }

  test("COW and MOR UPDATE keep the updated rows' ids; SET _row_id refuses") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v"), trackProps)
    val before = idsByKey(root)
    Snapshots.updateWhere(spark, root, Map("v" -> "v * 10"), "k <= 10")
    assert(idsByKey(root) == before, "COW UPDATE preserves ids")
    Snapshots.updateWhereMor(spark, root, Map("v" -> "v + 1"), "k > 90")
    assert(idsByKey(root) == before, "MOR UPDATE preserves ids")
    assert(Snapshots.readVersion(spark, root)
      .where(col("k") === 95L).select(col("v")).as[Double].head() == 96.0)
    intercept[IllegalArgumentException](
      Snapshots.updateWhere(spark, root, Map("_row_id" -> "0"), "k = 1"))
    intercept[IllegalArgumentException](
      Snapshots.updateWhereMor(spark, root, Map("_row_id" -> "0"), "k = 1"))
  }

  test("MERGE: matched rows keep their ids, inserted rows draw fresh ones") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v"), trackProps)
    val before = idsByKey(root)
    val hwm0 = Snapshots.tableProperties(spark, root)("graft.identity._row_id.hwm").toLong
    // upsert: 20 matched (k 81..100), 20 inserted (k 101..120)
    Snapshots.mergeCow(spark, root,
      (81L to 120L).map(i => (i, -i * 1.0)).toDF("k", "v"), Seq("k"),
      changeFeed = true)
    val after = idsByKey(root)
    assert(after.size == 120)
    (1L to 100L).foreach(k => assert(after(k) == before(k),
      s"matched/carried row $k kept its id"))
    (101L to 120L).foreach(k => assert(after(k) > hwm0,
      s"inserted row $k drew a fresh id above the hwm"))
    assert(after.values.toSet.size == 120, "no id collisions")
    val hwm1 = Snapshots.tableProperties(spark, root)("graft.identity._row_id.hwm").toLong
    assert(hwm1 > hwm0, "the insert allocation advanced the hwm")
    // the CDC feed carries the ids: the updated keys' pre/post images
    // share one _row_id each
    val feed = Snapshots.changesBetween(spark, root, 0, 1)
    val prePost = feed.where(col(ChangeFeed.opCol)
        .isin("update_preimage", "update_postimage"))
      .groupBy(col("k")).agg(countDistinct(col("_row_id")).as("nid"))
    assert(prePost.where(col("nid") =!= 1L).count() == 0,
      "one logical row = one id across its pre/post images")

    // clause-level merge: update preserves, insert allocates
    val beforeC = idsByKey(root)
    Snapshots.mergeClauses(spark, root,
      (115L to 125L).map(i => (i, 7.0 * i)).toDF("k", "v"), Seq("k"),
      matched = Seq(Snapshots.MergeWhen.updateAll()),
      notMatched = Seq(Snapshots.MergeWhen.insertAll()))
    val afterC = idsByKey(root)
    assert(afterC.size == 125)
    (1L to 120L).foreach(k => assert(afterC(k) == beforeC(k),
      s"clause-merge kept row $k's id"))
    assert((121L to 125L).forall(k => afterC(k) > hwm1),
      "clause-merge inserts allocate above the advanced hwm")
    assert(afterC.values.toSet.size == 125, "no collisions after both merges")
  }

  test("MERGE never takes _row_id from the source: a re-read of the table with shifted keys") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v"), trackProps)
    val before = idsByKey(root)
    val hwm0 = Snapshots.tableProperties(spark, root)("graft.identity._row_id.hwm").toLong
    // the source carries the table's own ids on other keys: k 51..100
    // match (update), k 101..150 are new (insert)
    val src = Snapshots.readVersion(spark, root)
      .withColumn("k", col("k") + 50L).withColumn("v", -col("v"))
    assert(src.columns.contains("_row_id"))
    Snapshots.mergeClauses(spark, root, src, Seq("k"),
      matched = Seq(Snapshots.MergeWhen.updateAll()),
      notMatched = Seq(Snapshots.MergeWhen.insertAll()))
    val after = idsByKey(root)
    val distinct = after.values.toSet.size
    assert(after.size == 150 && distinct == 150, s"every id distinct: $distinct of ${after.size}")
    (1L to 100L).foreach(k => assert(after(k) == before(k), s"row $k kept its own id"))
    (101L to 150L).foreach(k => assert(after(k) > hwm0, s"inserted row $k drew an id above the hwm"))
    assert(Snapshots.readVersion(spark, root).where(col("k") === 60L)
      .select(col("v")).as[Double].head() == -10.0, "the matched row took the source values")
    // a clause cannot assign the engine-managed column either
    intercept[IllegalArgumentException](Snapshots.mergeClauses(spark, root,
      Seq((1L, 1.0)).toDF("k", "v"), Seq("k"),
      matched = Seq(Snapshots.MergeWhen.update(Map("_row_id" -> "0")))))
  }

  test("overwrite keeps the column and never reuses ids") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v"), trackProps)
    val oldIds = idsByKey(root).values.toSet
    Snapshots.overwrite(spark, root, (201L to 220L).map(i => (i, 0.0)).toDF("k", "v"))
    val newIds = idsByKey(root)
    assert(newIds.size == 20 && newIds.values.toSet.intersect(oldIds).isEmpty,
      "replaced rows' ids are never reused")
    // time travel still sees the old version's ids
    assert(Snapshots.readVersion(spark, root, 0L)
      .select(col("_row_id")).as[Long].collect().toSet == oldIds)
  }

  test("a rebased rewrite adopts a concurrent winner's hwm instead of regressing it") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 40L).map(i => (i, i * 1.0)).toDF("k", "v"), trackProps)
    // build an OPTIMIZE-like rewrite delta against v0 (props carry v0's
    // hwm), then let an append WIN v1 (advancing the hwm), then commit
    // the rewrite — the rebase must carry the WINNER's hwm forward
    val d0 = Snapshots.readDelta(spark, root, 0L)
    val hwm0 = d0.props("graft.identity._row_id.hwm").toLong
    val kept = Snapshots.readVersion(spark, root, 0L)
    Snapshots.append(spark, root, Seq((41L, 41.0)).toDF("k", "v")) // wins v1
    val hwm1 = Snapshots.tableProperties(spark, root)("graft.identity._row_id.hwm").toLong
    assert(hwm1 > hwm0)
    val committed = Snapshots.rebaseProbeRewrite(spark, root, kept, d0)
    assert(committed == 2L, "the rewrite rebased past the winner")
    val hwm2 = Snapshots.tableProperties(spark, root)("graft.identity._row_id.hwm").toLong
    assert(hwm2 == hwm1,
      s"rebase must ADOPT the winner's hwm ($hwm1), not regress to $hwm0")
    // the rebased rewrite kept v0's rows; the winner's append survives
    assert(Snapshots.readVersion(spark, root).count() == 41)
  }

  test("partition-scoped replaces inject fresh ids; structural guards hold") {
    val root = tmp()
    Snapshots.init(spark, root,
      Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b")).toDF("k", "v", "p"),
      trackProps + ("graft.partitionBy" -> "p"))
    val hwm0 = Snapshots.tableProperties(spark, root)("graft.identity._row_id.hwm").toLong
    val bIds = idsByKey(root).filter(_._1 == 3L)
    Snapshots.replaceWhere(spark, root,
      Seq((10L, 10.0, "a"), (11L, 11.0, "a")).toDF("k", "v", "p"), "p = 'a'")
    val afterRw = idsByKey(root)
    assert(afterRw.keySet == Set(3L, 10L, 11L))
    assert(afterRw(3L) == bIds(3L), "untouched partition keeps its ids")
    assert(afterRw(10L) > hwm0 && afterRw(11L) > hwm0,
      "replaceWhere rows draw fresh ids, never NULL")
    val hwm1 = Snapshots.tableProperties(spark, root)("graft.identity._row_id.hwm").toLong
    assert(hwm1 > hwm0, "the replace advanced the hwm")
    Snapshots.overwritePartitions(spark, root,
      Seq((20L, 20.0, "b")).toDF("k", "v", "p"))
    val afterDyn = idsByKey(root)
    assert(afterDyn.keySet == Set(10L, 11L, 20L))
    assert(afterDyn(20L) > hwm1, "dynamic overwrite rows draw fresh ids")
    assert(afterDyn(10L) == afterRw(10L), "untouched partition keeps ids")
    // structural guards: no CONVERT into tracking, no ALTER of the prop
    intercept[IllegalArgumentException](
      Snapshots.convertToSnapshot(spark, tmp(), props = trackProps))
    intercept[IllegalArgumentException](
      Snapshots.setProperties(spark, root, Map("graft.rowTracking" -> "false")))
  }

  test("column mapping guards; renames elsewhere and streaming ingest compose") {
    val root = tmp()
    Snapshots.init(spark, root,
      (1L to 30L).map(i => (i, i * 1.0)).toDF("k", "v"), trackProps)
    // the engine-managed column can be neither renamed nor dropped
    intercept[IllegalArgumentException](
      Snapshots.renameColumn(spark, root, "_row_id", "rid2"))
    intercept[IllegalArgumentException](
      Snapshots.dropColumn(spark, root, "_row_id"))
    // renaming a USER column leaves ids untouched
    val before = Snapshots.readVersion(spark, root)
      .select(col("k").cast("long"), col("_row_id")).as[(Long, Long)].collect().toMap
    Snapshots.renameColumn(spark, root, "v", "w")
    val after = Snapshots.readVersion(spark, root)
      .select(col("k").cast("long"), col("_row_id")).as[(Long, Long)].collect().toMap
    assert(after == before)
    // streaming ingest (the exactly-once sink path) allocates fresh ids
    assert(Snapshots.commitStreamingBatch(spark, root,
      Seq((31L, 31.0)).toDF("k", "w"), 0L))
    val ids = Snapshots.readVersion(spark, root)
      .select(col("_row_id")).as[Long].collect()
    assert(ids.length == 31 && ids.toSet.size == 31,
      "streamed rows draw unique ids like any ingest")
  }

  test("streams: the change feed carries ids, the plain tail hides them") {
    val root = tmp()
    Snapshots.init(spark, root, Seq((1L, 1.0)).toDF("k", "v"), trackProps)
    val plain = spark.readStream.format("graft.sources.SnapshotSource").load(root)
    assert(!plain.schema.fieldNames.contains("_row_id"))
    val cdc = spark.readStream.format("graft.sources.SnapshotSource")
      .option("readChangeFeed", "true").option("startingVersion", 0).load(root)
    assert(cdc.schema.fieldNames.contains("_row_id"))
  }
}
