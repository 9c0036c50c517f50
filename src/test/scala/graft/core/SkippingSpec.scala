package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SkippingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def clustered(root: String): Unit =
    (0L until 4000L).map(i => (i, i % 7, s"row$i")).toDF("id", "grp", "s")
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(root)

  test("footer index envelopes match the actual per-file min/max") {
    val root = Files.createTempDirectory("skip").toFile.getAbsolutePath
    clustered(root)
    val idx = Skipping.buildIndex(spark, root)
    assert(idx.size == 8)
    assert(idx.map(_.rows).sum == 4000L)
    idx.foreach { f =>
      val actual = spark.read.parquet(f.path)
        .agg(min("id"), max("id")).as[(Long, Long)].head()
      assert(f.mins("id") == actual._1 && f.maxs("id") == actual._2,
        s"footer stats disagree with data for ${f.path}")
    }
    // envelopes are disjoint slices of a range-clustered layout
    val spans = idx.map(f => (f.mins("id"), f.maxs("id"))).sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2)
      case _ => ()
    }
  }

  test("pruned scan reads strictly fewer files yet returns exactly the filtered rows") {
    val root = Files.createTempDirectory("skip").toFile.getAbsolutePath
    clustered(root)
    val idx = Skipping.buildIndex(spark, root)
    val kept = Skipping.pruneFiles(idx, "id", 1000L, 1499L)
    assert(kept.size < idx.size, "a selective range over a clustered layout must prune")
    val pruned = Skipping.scanPruned(spark, idx, "id", 1000L, 1499L)
      .select("id").as[Long].collect().toSet
    assert(pruned == (1000L to 1499L).toSet)
  }

  test("the integral family holds no envelope for a string column (cannot mis-prune)") {
    val root = Files.createTempDirectory("skip").toFile.getAbsolutePath
    clustered(root)
    val idx = Skipping.buildIndex(spark, root)
    assert(Skipping.pruneFiles(idx, "s", 0L, 1L).size == idx.size)
  }

  test("double envelopes match the data and prune a value-clustered layout") {
    val root = Files.createTempDirectory("skip-dbl").toFile.getAbsolutePath
    (0 until 4000).map(i => (i.toLong, i * 0.25)).toDF("id", "v")
      .repartitionByRange(8, col("v")).sortWithinPartitions("v")
      .write.mode("overwrite").parquet(root)
    val idx = Skipping.buildIndex(spark, root)
    idx.foreach { f =>
      val (mn, mx) = spark.read.parquet(f.path)
        .agg(min("v"), max("v")).as[(Double, Double)].head()
      assert(f.dmins("v") == mn && f.dmaxs("v") == mx)
    }
    val kept = Skipping.pruneFilesDouble(idx, "v", 300.125, 399.875)
    assert(kept.size < idx.size && kept.nonEmpty)
    val n = spark.read.parquet(kept: _*)
      .where(col("v") >= 300.125 && col("v") <= 399.875).count()
    assert(n == spark.read.parquet(root)
      .where(col("v") >= 300.125 && col("v") <= 399.875).count())
  }

  test("a NaN-holding file carries NO double envelope and is never skipped") {
    val root = Files.createTempDirectory("skip-nan").toFile.getAbsolutePath
    Seq((1L, 1.0), (2L, Double.NaN), (3L, 2.0)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(root + "/a")
    Seq((10L, 100.0), (11L, 200.0)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(root + "/b")
    val files = Skipping.dataFiles(spark, root, recursive = true)
    val idx = Skipping.buildIndexForFiles(spark, files)
    val nanFile = idx.find(_.path.contains("/a/")).get
    assert(!nanFile.dmins.contains("v") && !nanFile.dmaxs.contains("v"),
      "parquet omits FP stats for NaN data; the envelope must not exist")
    // Spark orders NaN above every value: `v > 1e9` matches the NaN row,
    // so the NaN file must survive ANY range pruning
    val kept = Skipping.pruneFilesDouble(idx, "v", 1e9, Double.PositiveInfinity)
    assert(kept.contains(nanFile.path))
    assert(!kept.contains(idx.find(_.path.contains("/b/")).get.path),
      "the NaN-free file's envelope [100,200] proves it holds no v > 1e9")
    val got = spark.read.parquet(kept: _*).where(col("v") > 1e9).count()
    assert(got == 1L, "the NaN row is found through the pruned scan")
  }

  test("±0.0 cannot mis-prune under primitive comparisons") {
    val root = Files.createTempDirectory("skip-zero").toFile.getAbsolutePath
    Seq((1L, -0.0), (2L, 5.0)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(root)
    val idx = Skipping.buildIndex(spark, root)
    // whichever sign the writer recorded, [0.0, 0.0] intersects it
    assert(Skipping.pruneFilesDouble(idx, "v", 0.0, 0.0).size == 1)
    assert(Skipping.pruneFilesDouble(idx, "v", -0.0, -0.0).size == 1)
  }

  test("string envelopes prune a prefix-clustered layout; >16-byte values truncate soundly") {
    val root = Files.createTempDirectory("skip-str").toFile.getAbsolutePath
    // 20+-byte keys: truncation is exercised on every bound
    (0 until 2000).map { i =>
      val p = ('a' + i % 4).toChar
      (i.toLong, s"$p" + "x" * 20 + f"$i%05d")
    }.toDF("id", "s")
      .repartitionByRange(4, col("s")).sortWithinPartitions("s")
      .write.mode("overwrite").parquet(root)
    val idx = Skipping.buildIndex(spark, root)
    idx.foreach { f =>
      assert(f.smins("s").length <= Skipping.boundTruncateBytes)
      assert(f.smaxs("s").length <= Skipping.boundTruncateBytes)
    }
    // the BOTTOM band: repartitionByRange boundaries are sampled, so a
    // prefix may straddle adjacent files — but the top-quartile file
    // can never hold 'a…' values, so pruning is guaranteed to bite
    val r = Skipping.StrRange(
      Some(Skipping.StrBound("a".getBytes("UTF-8"), inclusive = true)),
      Some(Skipping.StrBound("b".getBytes("UTF-8"), inclusive = false)))
    val kept = Skipping.pruneFilesString(idx, "s", r)
    assert(kept.size < idx.size && kept.nonEmpty)
    val n = spark.read.parquet(kept: _*)
      .where(col("s") >= "a" && col("s") < "b").count()
    assert(n == spark.read.parquet(root)
      .where(col("s") >= "a" && col("s") < "b").count())
  }

  test("bound truncation: prefix lower, increment-with-carry upper, all-0xFF drops") {
    import Skipping.{truncateLower, truncateUpper, compareBytes}
    val plain = Array.tabulate[Byte](20)(i => ('a' + i).toByte)
    assert(truncateLower(plain).toSeq == plain.take(16).toSeq)
    assert(truncateLower(plain.take(5)).toSeq == plain.take(5).toSeq)
    // upper that FITS is exact
    assert(truncateUpper(plain.take(16)).get.toSeq == plain.take(16).toSeq)
    // truncated upper increments the last byte — and bounds the original
    val up = truncateUpper(plain).get
    assert(up.length == 16 && compareBytes(plain, up) < 0)
    // carry: 0xFF tail inside the prefix walks left
    val carry = Array.tabulate[Byte](20)(i => if (i >= 14) 0xff.toByte else 'a'.toByte)
    val upC = truncateUpper(carry).get
    assert(upC.length == 14 && upC(13) == ('a' + 1).toByte)
    assert(compareBytes(carry, upC) < 0)
    // an all-0xFF prefix has no finite upper
    assert(truncateUpper(Array.fill[Byte](17)(0xff.toByte)).isEmpty)
    // unsigned-ness: 0x80 sorts ABOVE 0x7f (a signed compare would flip)
    assert(compareBytes(Array(0x80.toByte), Array(0x7f.toByte)) > 0)
  }

  test("an unclustered layout prunes nothing (every envelope spans the domain)") {
    val root = Files.createTempDirectory("skip-flat").toFile.getAbsolutePath
    // round-robin layout: every file sees the whole id range
    (0L until 4000L).map(i => (i, s"row$i")).toDF("id", "s")
      .repartition(8)
      .write.mode("overwrite").parquet(root)
    val idx = Skipping.buildIndex(spark, root)
    val kept = Skipping.pruneFiles(idx, "id", 1000L, 1499L)
    assert(kept.size == idx.size,
      "without clustering min/max skipping cannot help — the layout is the index")
  }

  test("a persisted index round-trips and prunes identically to footer reads") {
    val root = Files.createTempDirectory("skip").toFile.getAbsolutePath
    val idxPath = Files.createTempDirectory("skip-idx").toFile.getAbsolutePath
    clustered(root)
    val idx = Skipping.buildIndex(spark, root)
    Skipping.writeIndex(spark, idx, idxPath)
    val loaded = Skipping.readIndex(spark, idxPath)
    assert(loaded.toSet == idx.toSet)
    assert(Skipping.pruneFiles(loaded, "id", 1000L, 1499L).toSet
      == Skipping.pruneFiles(idx, "id", 1000L, 1499L).toSet)
  }

  test("bloom equality pruning works exactly where min/max cannot: unclustered point lookup") {
    val root = Files.createTempDirectory("skip-bloom").toFile.getAbsolutePath
    (0L until 4000L).map(i => (i, s"key$i")).toDF("id", "k")
      .repartition(8)
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#k", "true")
      .option("parquet.bloom.filter.expected.ndv#k", "4000")
      .parquet(root)
    val total = Skipping.dataFiles(spark, root).size
    assert(total == 8)
    val kept = Skipping.pruneFilesByBloomEquality(spark, root, "k", "key2024")
    assert(kept.size < total, "bloom must rule out files not holding the key")
    val got = spark.read.parquet(kept: _*).where(col("k") === "key2024")
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(2024L), "pruning must be invisible to the lookup result")
    // a value that exists nowhere: no false negatives allowed, and the
    // lookup over whatever files survive finds nothing
    val keptMissing = Skipping.pruneFilesByBloomEquality(spark, root, "k", "absent")
    if (keptMissing.nonEmpty) {
      assert(spark.read.parquet(keptMissing: _*)
        .where(col("k") === "absent").count() == 0)
    }
    // a column without a bloom cannot prune
    assert(Skipping.pruneFilesByBloomEquality(spark, root, "id", "7").size == total)
  }

  test("distributed bloom pruning matches the driver-serial path exactly") {
    val root = Files.createTempDirectory("skip-bloom-dist").toFile.getAbsolutePath
    (0L until 4000L).map(i => (i, s"key$i")).toDF("id", "k")
      .repartition(8)
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#k", "true")
      .option("parquet.bloom.filter.expected.ndv#k", "4000")
      .parquet(root)
    val files = Skipping.dataFiles(spark, root)
    for (value <- Seq("key2024", "key0", "absent")) {
      val serial = Skipping.pruneFilesByBloomEquality(spark, root, "k", value).toSet
      val dist = Skipping.pruneFilesByBloomEqualityDistributed(spark, files, "k", value).toSet
      assert(dist == serial, s"distributed and serial bloom pruning diverge for $value")
    }
  }

  test("distributed index build matches the driver-serial footers") {
    val root = Files.createTempDirectory("skip-dist").toFile.getAbsolutePath
    clustered(root)
    val files = Skipping.dataFiles(spark, root)
    val serial = Skipping.buildIndexForFiles(spark, files).toSet
    val dist = Skipping.buildIndexDistributed(spark, files).toSet
    assert(dist == serial)
  }

  test("a column missing stats in any populated block is dropped from the envelope") {
    // block 1 covers k:[1,10]; block 2 holds rows but recorded no stats
    // for k — keeping [1,10] would under-cover and mis-skip, so k must go
    val blocks = Seq(
      Seq(Skipping.ChunkStat("k", covered = true, Some(1L), Some(10L)),
        Skipping.ChunkStat("j", covered = true, Some(5L), Some(6L))),
      Seq(Skipping.ChunkStat("k", covered = false, None, None),
        Skipping.ChunkStat("j", covered = true, Some(1L), Some(2L))))
    val env = Skipping.rollUpEnvelope(blocks)
    val (mins, maxs) = (env.mins, env.maxs)
    assert(!mins.contains("k") && !maxs.contains("k"))
    assert(mins("j") == 1L && maxs("j") == 6L)
    // an all-null chunk (stats recorded, no values) does NOT taint: it
    // cannot contribute a non-null value, the other blocks' envelope holds
    val withNullChunk = Seq(
      Seq(Skipping.ChunkStat("k", covered = true, Some(1L), Some(10L))),
      Seq(Skipping.ChunkStat("k", covered = true, None, None)))
    val env2 = Skipping.rollUpEnvelope(withNullChunk)
    val (m2, x2) = (env2.mins, env2.maxs)
    assert(m2("k") == 1L && x2("k") == 10L)
  }

  test("NTZ-annotated micros timestamps enter the envelope and prune exactly") {
    // the regenerated testdata stores timestamp[us] isAdjustedToUTC=false;
    // the engine reads it as LTZ epoch micros (inferTimestampNTZ off), so
    // the raw-micros envelope and an epoch-micros probe share one unit
    // space — admission must not require isAdjustedToUTC
    val root = Files.createTempDirectory("skip-ntz").toFile.getAbsolutePath
    val base = 1700000000000000L // epoch micros
    (0L until 4000L)
      .map(i => (i, new java.sql.Timestamp((base + i * 1000000L) / 1000L)))
      .toDF("id", "ts")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(root)
    graft.core.Tables.ensureTimestampCompat(spark)
    val idx = Skipping.buildIndex(spark, root)
    assert(idx.forall(f => f.mins.contains("ts") && f.maxs.contains("ts")),
      "NTZ micros envelopes must be admitted")
    val lo = base + 1000L * 1000000L
    val hi = base + 1499L * 1000000L
    val kept = Skipping.pruneFiles(idx, "ts", lo, hi)
    assert(kept.size < idx.size, "a selective ts range over a ts-clustered layout must prune")
    // soundness: every matching row lives in a kept file (ids track ts 1:1,
    // so the id range IS the matching-row set; this Spark-written file reads
    // back as NTZ via its embedded Spark schema, unlike driver-written
    // files, so assert at the file grain rather than through scanPruned)
    val got = spark.read.parquet(kept: _*)
      .select("id").as[Long].collect().toSet
    assert((1000L to 1499L).toSet.subsetOf(got))
  }

  test("the real events table's ts column carries a footer envelope matching the data") {
    val f = s"${graft.TestSpark.sfDir}/events.parquet"
    val idx = Skipping.buildIndexForFiles(spark, Seq(f))
    assert(idx.head.mins.contains("ts"),
      "the driver-written timestamp[us] file must yield a ts envelope")
    val actual = graft.core.Tables.events(spark, graft.TestSpark.sfDir)
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    assert(idx.head.mins("ts") == actual.getLong(0))
    assert(idx.head.maxs("ts") == actual.getLong(1))
  }

  test("a nested metaIoParallel call from a pool thread runs inline (no deadlock)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // more outer tasks than the pool has threads: queued inner tasks
    // would wait on threads that are all parked on their own inner calls
    val threads = math.min(32, math.max(4, Runtime.getRuntime.availableProcessors))
    val outer = threads + 4
    val hits = new java.util.concurrent.atomic.AtomicInteger()
    val run = Future {
      Skipping.metaIoParallel(outer) { _ =>
        Skipping.metaIoParallel(3)(_ => hits.incrementAndGet())
      }
    }
    Await.result(run, 60.seconds)
    assert(hits.get == outer * 3)
  }
}
