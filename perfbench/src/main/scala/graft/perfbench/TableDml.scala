package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.jobs.Snapshots
import graft.jobs.Snapshots.MergeWhen

/** `table_dml`: one closed-loop client on a snapshot table with the
  * change feed on. Commits follow a fixed 10-slot cycle whose first slot
  * is an append landing on a version ≡ 0 (mod 10), so the engine's
  * every-10th-version checkpoint always lands on an append; each
  * cycle packs the small files with an `optimizeCompact` (slot 7). After
  * each commit the client makes one read (see `read`).
  *
  * The client keeps a key → value model updated by each op; every read
  * is compared with it by row count plus an order-insensitive hash. */
final class TableDml(r: Run, rows: Long, batch: Long) extends Workload {
  val setups = 3
  val cycle = 10
  import TableDml._
  private val spark = r.spark
  private def root = s"${r.dir}/dml/t"

  private var model = mutable.LongMap.empty[Long]
  private var hashSum = 0L
  /** (count, hash) of the whole table per version, and of each commit's change rows. */
  private var versionDigest = mutable.LongMap.empty[(Long, Long)]
  private var changeDigest = mutable.LongMap.empty[(Long, Long)]
  private var version = 0L
  private var nextKey = 0L
  private var opNo = 0L

  private def put(k: Long, v: Long): Unit = {
    model.get(k).foreach(old => hashSum -= h(k, old))
    model(k) = v; hashSum += h(k, v)
  }
  private def remove(k: Long): Unit = model.remove(k).foreach(old => hashSum -= h(k, old))

  def setup(): Unit = {
    release()
    hashSum = 0L
    opNo = 0L
    val init = Gen.dmlRows(spark, r.seed, 0, rows, files = 16)
    version = Snapshots.init(spark, root, init)
    (0L until rows).foreach(k => put(k, Gen.dmlValue(r.seed, k)))
    nextKey = rows
    versionDigest(version) = (model.size.toLong, hashSum)
  }

  override def release(): Unit = {
    model = mutable.LongMap.empty; versionDigest = mutable.LongMap.empty
    changeDigest = mutable.LongMap.empty
  }

  def step(): Unit = {
    r.attempt(s"commit $opNo")(commit())
    r.attempt(s"read $opNo")(read())
  }

  /** The op kind of commit `n` (1-based commit count since init). */
  private def kindOf(n: Long): String = Cycle((n % 10).toInt)

  private def commit(): Boolean = {
    opNo += 1
    val kind = kindOf(opNo)
    val label = if ((version + 1) % 10 == 0) "checkpoint" else kind
    val changes = mutable.ArrayBuffer.empty[(Long, Long, Int)]
    val before = if (r.trace.enabled) Some(Disk.usage(root)) else None
    val newV = r.timed(s"snapshots.$label", opNo, group = "commit")(commitOp(kind, changes))
    before.foreach { b =>
      val a = Disk.usage(root)
      r.trace.add(s"snapshots.$label", "files_added", (a.dataFiles.keySet -- b.dataFiles.keySet).size)
      r.trace.add(s"snapshots.$label", "bytes_written", (a.bytes - a.logBytes) - (b.bytes - b.logBytes))
      r.trace.add(s"snapshots.$label", "log_bytes", a.logBytes - b.logBytes)
    }
    val ok = r.check(newV == version + 1, s"$kind committed v$newV, expected v${version + 1}")
    version = newV
    versionDigest(version) = (model.size.toLong, hashSum)
    changeDigest(version) = (changes.size.toLong, changes.iterator.map { case (k, v, o) => hc(k, v, o) }.sum)
    ok
  }

  /** Runs one commit of `kind`, updating the model; returns the new version. */
  private def commitOp(kind: String, changes: mutable.ArrayBuffer[(Long, Long, Int)]): Long = {
    val s = r.seed
    val n = opNo
    def range(width: Long): (Long, Long) = {
      val lo = (Gen.ud(s, n, 1) * (nextKey - width)).toLong
      (lo, lo + width)
    }
    kind match {
      case "append" =>
        val (a, b) = (nextKey, nextKey + batch)
        val v = Snapshots.append(spark, root, Gen.dmlRows(spark, s, a, b))
        (a until b).foreach { k => val x = Gen.dmlValue(s, k); put(k, x); changes += ((k, x, Insert)) }
        nextKey = b
        v
      case "merge" =>
        // half the source keys match live rows (update), half are new (insert)
        val (lo, hi) = range(batch / 2)
        val src = Gen.dmlRows(spark, s + n, lo, hi).union(Gen.dmlRows(spark, s + n, nextKey, nextKey + batch / 2))
        val v = Snapshots.mergeClauses(spark, root, src, Seq("k"),
          matched = Seq(MergeWhen.update(Map("v" -> "s.v"))),
          notMatched = Seq(MergeWhen.insertAll()), changeFeed = true)
        ((lo until hi) ++ (nextKey until nextKey + batch / 2)).foreach { k =>
          val x = Gen.dmlValue(s + n, k)
          model.get(k) match {
            case Some(old) => changes += ((k, old, Pre)); changes += ((k, x, Post))
            case None => changes += ((k, x, Insert))
          }
          put(k, x)
        }
        nextKey += batch / 2
        v
      case "delete" | "delete_mor" =>
        val (lo, hi) = range(batch / 4)
        val pred = s"k >= $lo AND k < $hi"
        val v =
          if (kind == "delete") Snapshots.deleteWhere(spark, root, pred, changeFeed = true)
          else Snapshots.deleteWhereMor(spark, root, pred, changeFeed = true)
        (lo until hi).foreach(k => model.get(k).foreach { old => changes += ((k, old, Delete)); remove(k) })
        v
      case "update" =>
        val (lo, hi) = range(batch / 2)
        val v = Snapshots.updateWhere(spark, root, Map("v" -> "v + 1"), s"k >= $lo AND k < $hi",
          changeFeed = true)
        (lo until hi).foreach(k => model.get(k).foreach { old =>
          changes += ((k, old, Pre)); changes += ((k, old + 1, Post)); put(k, old + 1)
        })
        v
      case "optimize" =>
        // packs the small files the cycle's commits wrote, not the base files
        Snapshots.optimizeCompact(spark, root, smallerThanBytes = 256L << 10,
          targetFileBytes = 1L << 20)
    }
  }

  /** One read, rotating over a selective scan through the
    * `graft-snapshot` source (its file index prunes on the log's stats),
    * a `versionAsOf` time-travel read of version 0, and a
    * `changesBetween` read of the last five versions. */
  private def read(): Boolean = {
    val n = opNo
    def modelRange(lo: Long, hi: Long): (Long, Long) =
      model.iterator.filter { case (k, _) => k >= lo && k < hi }
        .foldLeft((0L, 0L)) { case ((c, s), (k, v)) => (c + 1, s + h(k, v)) }
    (n % 3).toInt match {
      case 0 =>
        val width = nextKey / 100
        val lo = (Gen.ud(r.seed, n, 2) * (nextKey - width)).toLong
        val hi = lo + width
        val (got, df) = r.timed("read.scan", n, group = "read") {
          val df = r.trace.span("sources.plan", n) {
            val d = digest(spark.read.format("graft-snapshot").load(root)
              .where(col("k") >= lo && col("k") < hi))
            d.queryExecution.executedPlan
            d
          }
          // collect() runs this Dataset's own plan, whose scan metrics are read below
          (r.trace.span("sources.scan", n)(df.collect().head), df)
        }
        if (r.trace.enabled) {
          r.trace.add("read.scan", "files_read", Plans.filesRead(df))
          r.trace.add("read.scan", "files_live", Snapshots.versionFiles(spark, root, version).size)
        }
        compare(got, modelRange(lo, hi), s"scan [$lo, $hi) at v$version")
      case 1 =>
        // the version the table was loaded at: every time-travel read
        // resolves the same old snapshot, so its cost does not depend on
        // where in the cycle it falls
        val at = 0L
        val got = r.timed("read.time_travel", n, group = "read") {
          r.trace.span("snapshots.time_travel", n) {
            digest(spark.read.format("graft-snapshot").option("versionAsOf", at).load(root)).head()
          }
        }
        compare(got, versionDigest(at), s"versionAsOf $at")
      case _ =>
        val from = math.max(0L, version - 5)
        val got = r.timed("read.changefeed", n, group = "read") {
          r.trace.span("changefeed.read", n) {
            Snapshots.changesBetween(spark, root, from, version)
              .agg(count(lit(1)), coalesce(sum(changeHash), lit(0L))).head()
          }
        }
        val want = ((from + 1) to version).map(changeDigest(_))
          .foldLeft((0L, 0L)) { case ((c, s), (c1, s1)) => (c + c1, s + s1) }
        compare(got, want, s"changesBetween($from, $version]")
    }
  }

  /** Bytes under the table root over the bytes of a plain parquet write
    * of the final live rows. */
  override def finish(): Seq[Metric] = {
    val plain = s"${r.dir}/dml/plain"
    spark.read.format("graft-snapshot").load(root).write.mode("overwrite").parquet(plain)
    Seq(Metric("space_amp", Disk.bytes(root).toDouble / Disk.bytes(plain), "ratio"))
  }

  private def compare(got: Row, want: (Long, Long), what: String): Boolean = {
    val g = (got.getLong(0), got.getLong(1))
    val w = if (r.corrupt && r.attempted > 0) (want._1, want._2 + 1) else want
    r.check(g == w, s"$what: got (count, hash) $g, model says $w")
  }

}

object TableDml {
  val Cycle: IndexedSeq[String] = IndexedSeq(
    "append", "merge", "delete", "append", "delete_mor",
    "update", "append", "optimize", "delete_mor", "append")

  private val Insert = 1; private val Pre = 2; private val Post = 3; private val Delete = 4
  private val P = 1000000007L

  /** Per-row hash, identical to Spark's `pmod(xxhash64(k, v), P)`. */
  def h(k: Long, v: Long): Long = Math.floorMod(XXH64.hashLong(v, XXH64.hashLong(k, 42L)), P)
  /** Per-change-row hash: `pmod(xxhash64(k, v, code), P)`. */
  def hc(k: Long, v: Long, code: Int): Long =
    Math.floorMod(XXH64.hashLong(code.toLong, XXH64.hashLong(v, XXH64.hashLong(k, 42L))), P)

  private val rowHash = pmod(xxhash64(col("k"), col("v")), lit(P))
  private val changeHash = pmod(xxhash64(col("k"), col("v"),
    when(col("_op") === "insert", 1L).when(col("_op") === "update_preimage", 2L)
      .when(col("_op") === "update_postimage", 3L).otherwise(4L)), lit(P))

  def digest(df: DataFrame): DataFrame = df.agg(count(lit(1)), coalesce(sum(rowHash), lit(0L)))
}
