package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Clean
import graft.jobs.{ChangeFeed, Snapshots, SnapshotSql}
import graft.serve.Report

/** Property tests (SURVEY.md §5): algebraic invariants checked over many
  * seeded-random inputs (plain `scala.util.Random` — the scalatest/
  * scalacheck bridge artifact is not in the offline cache). */
class PropertiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val trials = 10

  test("P1 standardizeColumns is idempotent over random column subsets") {
    val pool = Seq("TPEP_PICKUP_DATETIME", "PULocationID", "trip_distance", "DOLocationID", "extra_col")
    val rnd = new scala.util.Random(42)
    (1 to trials).foreach { _ =>
      val names = rnd.shuffle(pool).take(1 + rnd.nextInt(pool.size))
      val df = names.zipWithIndex
        .foldLeft(Seq(1).toDF("__seed")) { case (d, (n, i)) => d.withColumn(n, lit(i)) }
        .drop("__seed")
      val once = Clean.standardizeColumns(df)
      val twice = Clean.standardizeColumns(once)
      assert(once.columns.toSeq == twice.columns.toSeq, s"input cols: $names")
    }
  }

  test("MERGE: random upsert batch sequences match an in-memory model") {
    // model: a Map[key -> row]; each batch is last-writer-wins per key,
    // rows may change partition. After every batch, the on-disk table must
    // equal the model exactly — catching lost inserts, surviving stale
    // rows, and partition-move leaks across arbitrary interleavings.
    val rnd = new scala.util.Random(11)
    val parts = Seq("pa", "pb", "pc")
    val root = java.nio.file.Files.createTempDirectory("merge-prop").toFile.getAbsolutePath
    val staging = java.nio.file.Files.createTempDirectory("merge-prop-stage").toFile.getAbsolutePath
    def randRows(n: Int): Seq[(String, Long, String)] =
      Seq.fill(n)((s"k${rnd.nextInt(12)}", rnd.nextInt(1000).toLong, parts(rnd.nextInt(parts.size))))
    var model: Map[String, (Long, String)] =
      randRows(8).map { case (k, v, p) => k -> (v, p) }.toMap
    model.toSeq.map { case (k, (v, p)) => (k, v, p) }.toDF("k", "v", "p")
      .write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy("p").parquet(root)
    (1 to 5).foreach { i =>
      val batchRows = randRows(1 + rnd.nextInt(5))
      val batch = batchRows.map { case (k, v, p) => k -> (v, p) }.toMap // last wins per key
      model = model ++ batch.map { case (k, (v, p)) => k -> (v, p) }
      val merged = graft.jobs.Merge.mergeIntoPartitioned(spark, root,
        batch.toSeq.map { case (k, (v, p)) => (k, v, p) }.toDF("k", "v", "p"),
        Seq("k"), "p", staging)
      val got = merged.select("k", "v", "p").as[(String, Long, String)]
        .collect().map { case (k, v, p) => k -> (v, p) }.toMap
      assert(got == model, s"batch $i diverged (batch=$batchRows)")
    }
  }

  test("snapshot MERGE: random batch sequences over three routes match an in-memory model, feeds replay") {
    // the model check above over a snapshot table with the change feed
    // on. The seeded op sequence draws the whole-row API upsert, the SQL
    // upsert, a conditional clause merge (delete / guarded update /
    // guarded insert), the four predicate DML routes (DELETE and UPDATE,
    // copy-on-write and merge-on-read) and the key delete. Predicates
    // include ones no file can hold, ones every file may hold but no row
    // matches, and a repeat of the last merge-on-read delete's (rows a
    // live deletion vector already removed). The key delete's key frames
    // hold duplicates, keys absent from the table and keys whose rows a
    // deletion vector removed (a MOR update's pre-image, a MOR delete's
    // row, since re-inserted or not).
    // After every commit the head equals the model, the commit's feed
    // replayed onto the previous head gives the new head, and the same
    // feed applied to a replica as one CDC batch (batch id = version)
    // keeps the replica equal to the model.
    val rnd = new scala.util.Random(23)
    val root = java.nio.file.Files.createTempDirectory("merge-prop-snap").toFile.getAbsolutePath + "/t"
    val replica = root + "-replica"
    def feedReplica(v: Long): Boolean = Snapshots.applyCdcBatch(spark, replica,
      Snapshots.changesBetween(spark, root, v - 1, v), Seq("k"), batchId = v)
    type Model = Map[Long, (Long, String)]
    def randRows(n: Int): Model = // one row per key: MERGE refuses duplicate matches
      Seq.fill(n)(rnd.nextInt(30).toLong -> ((rnd.nextInt(1000).toLong, s"p${rnd.nextInt(3)}"))).toMap
    def frame(m: Model) = m.toSeq.map { case (k, (v, p)) => (k, v, p) }.toDF("k", "v", "p")
    def rows(d: DataFrame) = d.select("k", "v", "p").as[(Long, Long, String)].collect().toSeq.sorted
    def modelRows(m: Model) = m.toSeq.map { case (k, (v, p)) => (k, v, p) }.sorted
    // (sql, the same predicate over a model row)
    type Pred = (String, (Long, Long, String) => Boolean)
    def randRange(): Pred = {
      val lo = rnd.nextInt(30).toLong
      val hi = lo + rnd.nextInt(12)
      val p = s"p${rnd.nextInt(3)}"
      if (rnd.nextBoolean()) (s"k BETWEEN $lo AND $hi", (k, _, _) => k >= lo && k <= hi)
      else (s"k BETWEEN $lo AND $hi AND p = '$p'", (k, _, q) => k >= lo && k <= hi && q == p)
    }
    var lastMorDelete: Option[Pred] = None
    var dmlOps = 0
    var dvRepeats = 0
    var dvRemoved = Set.empty[Long] // keys whose rows a deletion vector removed
    var dvKeyDraws = 0
    val routes = Seq("api", "sql", "clauses", "delete", "deleteMor", "update", "updateMor", "deleteKeys")
    val ops = rnd.shuffle(Seq.fill(3)(routes).flatten)
    var model = randRows(12)
    Snapshots.init(spark, root, frame(model).repartition(3))
    assert(feedReplica(0L))
    ops.zipWithIndex.foreach { case (route, i0) =>
      val i = i0 + 1
      val batch = randRows(1 + rnd.nextInt(8))
      var delKeys = Seq.empty[Long]
      lazy val pred: Pred = {
        dmlOps += 1
        dmlOps % 4 match {
          case 1 => ("k > 1000", (_, _, _) => false)      // no candidate file
          case 2 => ("k % 31 = 30", (_, _, _) => false)   // candidates, no row
          case 3 => lastMorDelete.map { p => dvRepeats += 1; p } // rows a DV removed
            .getOrElse(randRange())
          case _ => randRange()
        }
      }
      def modelDelete(): Unit =
        model = model.filterNot { case (k, (v, p)) => pred._2(k, v, p) }
      def modelUpdate(): Unit =
        model = model.map { case (k, (v, p)) =>
          if (pred._2(k, v, p)) k -> ((v + 7, "p2")) else k -> ((v, p)) }
      val set = Map("v" -> "v + 7", "p" -> "'p2'")
      val v = route match {
        case "api" =>
          model ++= batch
          Snapshots.mergeCow(spark, root, frame(batch), Seq("k"), changeFeed = true)
        case "sql" =>
          model ++= batch
          frame(batch).createOrReplaceTempView("prop_merge_src")
          SnapshotSql.sql(spark,
            s"""MERGE INTO graft.`$root` t USING prop_merge_src s ON t.k = s.k
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin, changeFeed = true)
        case "clauses" =>
          batch.foreach { case (k, (bv, bp)) =>
            model.get(k) match {
              case Some(_) if bv % 5 == 0 => model -= k
              case Some((old, _)) => if (bv >= old) model += k -> ((bv, bp))
              case None => if (bv % 5 != 0) model += k -> ((bv, bp))
            }
          }
          Snapshots.mergeClauses(spark, root, frame(batch), Seq("k"),
            matched = Seq(
              Snapshots.MergeWhen.delete(Some("s.v % 5 = 0")),
              Snapshots.MergeWhen.update(Map("v" -> "s.v", "p" -> "s.p"), Some("s.v >= t.v"))),
            notMatched = Seq(Snapshots.MergeWhen.insertAll(Some("s.v % 5 <> 0"))),
            changeFeed = true)
        case "delete" =>
          modelDelete()
          Snapshots.deleteWhere(spark, root, pred._1, changeFeed = true)
        case "deleteMor" =>
          dvRemoved ++= model.collect { case (k, (v, p)) if pred._2(k, v, p) => k }
          modelDelete()
          lastMorDelete = Some(pred)
          Snapshots.deleteWhereMor(spark, root, pred._1, changeFeed = true)
        case "update" =>
          modelUpdate()
          Snapshots.updateWhere(spark, root, set, pred._1, changeFeed = true)
        case "updateMor" =>
          dvRemoved ++= model.collect { case (k, (v, p)) if pred._2(k, v, p) => k }
          modelUpdate()
          Snapshots.updateWhereMor(spark, root, set, pred._1, changeFeed = true)
        case "deleteKeys" =>
          val present = rnd.shuffle(model.keys.toSeq.sorted).take(1 + rnd.nextInt(3))
          val gone = dvRemoved.toSeq.sorted.take(2)
          dvKeyDraws += gone.size
          delKeys = present ++ present.take(1) ++ Seq(100L + rnd.nextInt(5)) ++ gone
          model --= delKeys
          Snapshots.deleteKeysCow(spark, root, delKeys.toDF("k"), Seq("k"), changeFeed = true)
      }
      val what =
        if (routes.take(3).contains(route)) s"batch=$batch"
        else if (route == "deleteKeys") s"keys=$delKeys"
        else s"pred=${pred._1}"
      assert(v == i.toLong, s"$route op $i committed v$v")
      val head = rows(Snapshots.readVersion(spark, root, v))
      assert(head == modelRows(model), s"$route op $i diverged from the model ($what)")
      val replayed = ChangeFeed.applyChangeFeed(Snapshots.readVersion(spark, root, v - 1)
        .select("k", "v", "p"), Snapshots.changesBetween(spark, root, v - 1, v), Seq("k"))
      assert(rows(replayed) == head, s"$route op $i: feed replay diverged from the head ($what)")
      assert(feedReplica(v), s"$route op $i: the replica refused batch $v")
      assert(rows(Snapshots.readVersion(spark, replica)) == head,
        s"$route op $i: the replica diverged from the model ($what)")
    }
    assert(dmlOps == 12 && dvRepeats > 0, s"$dmlOps DML ops, $dvRepeats repeated a MOR delete")
    assert(dvKeyDraws > 0, "no key delete drew a key a deletion vector removed")
    info(s"$dvKeyDraws keys drawn from rows a deletion vector removed")
    // a batch id already applied is a no-op that commits nothing
    val replicaHead = Snapshots.latestVersion(spark, replica)
    assert(!feedReplica(ops.size.toLong))
    assert(Snapshots.latestVersion(spark, replica) == replicaHead)
  }

  test("A12 weighted average of per-group averages equals the global average") {
    val rnd = new scala.util.Random(7)
    (1 to trials).foreach { _ =>
      val rows = Seq.fill(30)((rnd.nextInt(5), rnd.nextDouble() * 2000 - 1000))
      val df = rows.toDF("g", "v")
      val global = df.agg(avg($"v")).head.getDouble(0)
      val marts = df.groupBy("g").agg(avg($"v").as("a"), count(lit(1)).as("n"))
      val rolled = marts.agg((sum($"a" * $"n") / sum($"n")).as("w")).head.getDouble(0)
      assert(math.abs(global - rolled) < 1e-9 * math.max(1.0, math.abs(global)))
    }
  }

  test("E13 pctOfTotal always sums to 100 for positive metrics") {
    val rnd = new scala.util.Random(11)
    (1 to trials).foreach { _ =>
      val df = Seq.tabulate(10)(i => (s"k$i", 1L + rnd.nextInt(100000).toLong)).toDF("k", "n")
      val total = Report.pctOfTotal(df, "n").agg(sum("pct")).head.getDouble(0)
      assert(math.abs(total - 100.0) < 1e-9)
    }
  }

  test("E9 percentile array unpack round-trips against scalar percentiles") {
    val rnd = new scala.util.Random(13)
    (1 to trials).foreach { _ =>
      val df = Seq.fill(50)(rnd.nextDouble() * 2e6 - 1e6).toDF("v")
      val arr = df.agg(expr("percentile(v, array(0.25, 0.5, 0.75))").as("p"))
        .select(col("p").getItem(0), col("p").getItem(1), col("p").getItem(2))
        .head
      val scalars = df.agg(
        expr("percentile(v, 0.25)"), expr("percentile(v, 0.5)"), expr("percentile(v, 0.75)")
      ).head
      (0 to 2).foreach(i => assert(arr.getDouble(i) == scalars.getDouble(i)))
    }
  }

  test("ImageHeaders agrees with the JDK encoder for random dims across all four formats") {
    val rnd = new scala.util.Random(7)
    (1 to trials).foreach { _ =>
      val w = 1 + rnd.nextInt(500)
      val h = 1 + rnd.nextInt(500)
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(rnd.nextInt(w), rnd.nextInt(h), rnd.nextInt())
      Seq("png", "jpg", "gif", "bmp").foreach { fmt =>
        val out = new java.io.ByteArrayOutputStream()
        assert(javax.imageio.ImageIO.write(img, fmt, out))
        val sniffed = graft.ext.ImageHeaders.sniff(out.toByteArray)
        assert(sniffed.exists(s => s._2 == w && s._3 == h), s"$fmt ${w}x$h -> $sniffed")
      }
    }
  }
}
