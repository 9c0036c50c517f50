package graft.serve

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEvents, TestSpark}

class ReportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("A12 weighted re-aggregation of group averages equals the global average") {
    // raw data -> per-group (avg, n) -> weighted rollup == direct global avg
    val raw = Seq((1, 10.0), (1, 20.0), (2, 60.0)).toDF("g", "v")
    val marts = raw.groupBy("g").agg(avg($"v").as("avg_v"), count(lit(1)).as("n"))
    val rolled = Report.weightedRollup(marts.withColumn("all", lit(1)),
      Seq("all"), Seq("avg_v" -> "wavg"), "n").head
    assert(rolled.getAs[Double]("wavg") == 30.0)
    assert(rolled.getAs[Long]("n") == 3L)
  }

  test("E13 pctOfTotal sums to 100") {
    val df = Seq(("a", 10L), ("b", 30L), ("c", 60L)).toDF("k", "n")
    val out = Report.pctOfTotal(df, "n")
    assert(math.abs(out.agg(sum("pct")).head.getDouble(0) - 100.0) < 1e-9)
  }

  test("A15 cumulative share ends at 100% and is monotone") {
    val df = Seq((0, 5L), (1, 10L), (2, 85L)).toDF("hour", "n")
    val out = Report.cumulativeShare(df, "hour", "n").orderBy("hour")
      .select("cum_pct").collect().map(_.getDouble(0))
    assert(out.last == 100.0)
    assert(out.sameElements(out.sorted))
  }

  test("A15 global cumulative share is exact when exchanges are not reused") {
    // 20k distinct order keys over several range partitions: the prefix
    // offsets must line up with the rows they shift even when every
    // exchange in the plan is planned and sampled independently. AQE
    // coalescing is off so the small frame keeps all its ranges.
    val confs = Seq("spark.sql.exchange.reuse" -> "false",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.range(0, 20000)
        .select((($"id" * 7919) % 20000).as("k"), ($"id" % 13 + 1).as("n"))
      val got = Report.cumulativeShare(df, "k", "n")
        .select("k", "cum", "cum_pct").as[(Long, Long, Double)]
        .collect().sortBy(_._1).toSeq
      val total = df.agg(sum("n")).head.getLong(0)
      val want = df.coalesce(1)
        .withColumn("cum", sum($"n").over(Window.orderBy($"k")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cum_pct", $"cum" * lit(100.0) / lit(total))
        .select("k", "cum", "cum_pct").as[(Long, Long, Double)]
        .collect().sortBy(_._1).toSeq
      assert(got.size == want.size)
      val bad = got.zip(want).filter { case (g, w) => g != w }
      assert(bad.isEmpty, s"${bad.size} rows differ, first: ${bad.headOption}")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("A15 global cumulative share over a local input is one range: the single-partition window's values in at most 3 jobs") {
    // ties on the order key, a negative metric, more rows than task slots
    val rows = (0 until 40).map(i => (i, i % 7, (i * 37 % 11) - 4L))
    val df = rows.toDF("id", "k", "n")
    val shared = Report.cumulativeShare(df, "k", "n")
    val (got, events) = SparkEvents.record(spark)(
      shared.select("id", "k", "n", "cum", "cum_pct").as[(Int, Int, Long, Long, Double)].collect().toSeq)
    assert(events.jobs <= 3, s"${events.jobs} Spark jobs")
    val plan = shared.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning") && !plan.contains("Exchange"), plan)
    val total = rows.map(_._3).sum
    val want = df.coalesce(1)
      .withColumn("cum", sum($"n").over(Window.orderBy($"k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_pct", $"cum" * lit(100.0) / lit(total))
      .select("id", "k", "n", "cum", "cum_pct").as[(Int, Int, Long, Long, Double)]
      .collect().toSeq
    assert(got.sortBy(_._1) == want.sortBy(_._1))
  }

  test("A14 argmax picks peak and trough") {
    val df = Seq((0, 5L), (7, 50L), (23, 1L)).toDF("hour", "n")
    val row = Report.argmax(df, "hour", "n").head
    assert(row.getAs[Int]("peak_hour") == 7)
    assert(row.getAs[Int]("trough_hour") == 23)
  }

  test("J3 decode falls back to 'Otro' and builds display label") {
    val dim = Seq((1, "Tarjeta"), (2, "Efectivo")).toDF("code", "label")
    val df = Seq(1, 2, 9).toDF("payment_type")
    val out = Report.decode(df, "payment_type", dim)
      .orderBy("payment_type").select("etiqueta", "display").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("Tarjeta", "Efectivo", "Otro"))
    assert(out(2).getString(1) == "9 - Otro")
  }

  test("E15 period key builds YYYY-MM label and sortable int") {
    val df = Seq(("2024", "03")).toDF("year", "month")
    val row = Report.withPeriod(df).head
    assert(row.getAs[String]("periodo") == "2024-03")
    assert(row.getAs[Int]("periodo_orden") == 202403)
  }
}
