package graft.marts

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.jobs.Jobs

class MartsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("E5 distance bin boundaries are strict-< at exactly 1/3/5/10/20") {
    val df = Seq(0.99, 1.0, 2.99, 3.0, 4.99, 5.0, 9.99, 10.0, 19.99, 20.0).toDF("d")
    val out = Marts.withDistanceBins(df, "d")
      .select("d", "distancia_bin").collect().map(r => (r.getDouble(0), r.getString(1))).toMap
    assert(out(0.99) == "0-1"); assert(out(1.0) == "1-3")
    assert(out(2.99) == "1-3"); assert(out(3.0) == "3-5")
    assert(out(4.99) == "3-5"); assert(out(5.0) == "5-10")
    assert(out(9.99) == "5-10"); assert(out(10.0) == "10-20")
    assert(out(19.99) == "10-20"); assert(out(20.0) == "20+")
  }

  test("A5 topZones returns k rows ordered by count desc") {
    val df = (1 to 100).map(i => (i % 7, 1.0, 2.0, 3.0)).toDF("z", "d", "t", "f")
    val out = Marts.topZones(df, "z", "d", "t", "f", k = 3).collect()
    assert(out.length == 3)
    val counts = out.map(_.getAs[Long]("total_viajes"))
    assert(counts.sorted.reverse.toSeq == counts.toSeq)
  }

  test("A8 variability exact percentiles unpack p25/p50/p75") {
    val df = (1 to 100).map(i => (1, i.toDouble, i.toDouble)).toDF("k", "dur", "fare")
    val row = Marts.variability(df, "k", "dur", "fare", exact = true).head
    assert(row.getAs[Double]("duracion_p50") == 50.5)
    assert(row.getAs[Long]("total_viajes") == 100L)
  }

  test("A9 errorsByHour computes MAE and RMSE") {
    val df = Seq((1, 10.0, 12.0), (1, 10.0, 6.0)).toDF("h", "label", "pred")
    val row = Marts.errorsByHour(df, "h", "pred", "label").head
    assert(row.getAs[Double]("mae") == 3.0) // |2| and |-4| -> 3
    assert(math.abs(row.getAs[Double]("rmse") - math.sqrt(10.0)) < 1e-12)
  }

  /** A curated-shaped month over 4 partitions: null hour, payment, vendor
    * and zone keys, 45 pickup and 60 drop-off zones whose counts tie across
    * the top-20 cut, every distance bin. */
  private def trips(n: Int): DataFrame =
    spark.range(0, n, 1, 4).select(
      when(col("id") % 101 =!= 0, (col("id") % 24).cast("int")).as("pickup_hour"),
      ((col("id") / 24).cast("long") % 7 + 1).cast("int").as("pickup_dow"),
      ((col("id") * 13 % 97) / 3.0).as("trip_duration_min"),
      ((col("id") % 230) / 10.0).as("trip_distance"),
      ((col("id") * 31 % 500) / 10.0 + 2.5).as("fare_amount"),
      when(col("id") % 37 =!= 0, (col("id") % 45).cast("int")).as("pu_location"),
      when(col("id") % 53 =!= 0, (col("id") * 7 % 60).cast("int")).as("do_location"),
      when(col("id") % 11 =!= 0, col("id") % 5).as("payment_type"),
      when(col("id") % 17 =!= 0, (col("id") % 3).cast("int")).as("vendor_id"))

  /** `Jobs.marts` over `df` equals each mart's own plan: rows, row order and
    * schema (names, types, nullability), in the returned frames and in the
    * written files. */
  private def assertFusedEqualsPerMart(df: DataFrame): Unit = {
    val out = Files.createTempDirectory("marts-fused").toString
    val fused = Jobs.marts(spark, df, out)
    val defs = Marts.tripMarts(Marts.fareColumn(df))
    assert(fused.keySet == defs.map(_._1).toSet)
    defs.foreach { case (name, m) =>
      val alone = Marts.plan(m, df)
      val expected = alone.collect().toSeq
      assert(fused(name).schema == alone.schema, s"$name schema")
      assert(fused(name).collect().toSeq == expected, s"$name rows")
      val written = spark.read.parquet(s"$out/$name")
      assert(written.schema.map(f => f.name -> f.dataType) == alone.schema.map(f => f.name -> f.dataType))
      assert(written.collect().toSeq == expected, s"$name written rows")
      val files = new java.io.File(s"$out/$name").listFiles().map(_.getName).filterNot(_.endsWith(".crc"))
      assert(files.count(_.endsWith(".parquet")) == 1 && files.contains("_SUCCESS"), s"$name files ${files.toSeq}")
    }
  }

  test("fused marts equal the per-mart plans: null keys, ties at the top-20 cut, > 20 zones") {
    val df = trips(5000)
    // the frame has what the cut can get wrong: more than 20 zones, a tie
    // between the 20th and 21st zone, and null zones
    Seq("pu_location", "do_location").foreach { z =>
      val counts = df.groupBy(z).count().orderBy(desc("count"), col(z)).collect()
      assert(counts.length > 21)
      assert(counts(19).getLong(1) == counts(20).getLong(1), s"$z: no tie at the cut")
      assert(counts.exists(_.isNullAt(0)), s"$z: no null zone")
    }
    assertFusedEqualsPerMart(df)
  }

  test("fused marts over an empty month: kpis is one row of 0 trips, the other marts empty") {
    val df = trips(100).filter(lit(false))
    assertFusedEqualsPerMart(df)
    val m = Jobs.marts(spark, df, Files.createTempDirectory("marts-empty").toString)
    val kpis = m("kpis").collect()
    assert(kpis.length == 1 && kpis.head.getLong(0) == 0L && kpis.head.isNullAt(1) && kpis.head.isNullAt(2))
    assert(m.removed("kpis").values.forall(_.isEmpty))
  }
}
