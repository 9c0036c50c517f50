package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, row id, column salt), so the same seed gives the same rows
  * whatever the partitioning. */
object Gen {

  /** Uniform double in [0, 1) from (seed, id, salt). */
  def u(seed: Long, id: Column, salt: Int): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(1000000007L)).cast("double") / 1000000007.0

  /** Same generator on the driver (for op cycles and keys). */
  def ud(seed: Long, id: Long, salt: Int): Double = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble
  }

  /** One synthetic TLC yellow-taxi month in the reference's source
    * spellings (`VendorID`, `tpep_pickup_datetime`, `PULocationID`, …).
    * About 4% of rows are invalid (null pickup, non-positive distance or
    * fare, dropoff not after pickup) and about 2% are outliers (extreme
    * distance, fare or duration), so the ETL filters and the percentile
    * band both remove rows. */
  def tlcTrips(spark: SparkSession, seed: Long, rows: Long, year: Int, month: Int): DataFrame = {
    val id = col("id")
    def r(salt: Int) = u(seed, id, salt)
    val monthStart = java.time.LocalDateTime.of(year, month, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC)
    val pickupSec = lit(monthStart) + (r(1) * 28 * 86400).cast("long")
    val distance = when(r(2) < 0.01, lit(-1.0) * r(3))      // invalid: negative
      .when(r(2) < 0.02, lit(0.0))                          // invalid: zero
      .when(r(2) < 0.03, lit(80.0) + r(3) * 400)            // outlier: extreme
      .otherwise(round(lit(0.3) + pow(r(3), 2) * 18, 2))
    val durationMin = when(r(4) < 0.01, lit(-5.0))          // invalid: dropoff before pickup
      .when(r(4) < 0.015, lit(600.0) + r(5) * 600)          // outlier: 10-20 h trip
      .otherwise(lit(2.0) + r(5) * 40)
    val fare = when(r(6) < 0.01, lit(0.0))                  // invalid: zero fare
      .when(r(6) < 0.015, lit(900.0) + r(7) * 500)          // outlier
      .otherwise(round(lit(3.0) + abs(distance) * 2.5 + r(7) * 6, 2))
    spark.range(0, rows, 1, 8)
      .select(
        (lit(1) + (r(8) * 2).cast("int")).as("VendorID"),
        when(r(9) < 0.005, lit(null).cast("timestamp"))      // invalid: null pickup
          .otherwise(timestamp_seconds(pickupSec)).as("tpep_pickup_datetime"),
        timestamp_seconds(pickupSec + (durationMin * 60).cast("long")).as("tpep_dropoff_datetime"),
        (lit(1) + (r(10) * 4).cast("long")).cast("double").as("passenger_count"),
        distance.as("trip_distance"),
        (lit(1) + (r(11) * 1.1).cast("long")).cast("double").as("RatecodeID"),
        when(r(12) < 0.98, lit("N")).otherwise(lit("Y")).as("store_and_fwd_flag"),
        (lit(1) + pow(r(13), 2) * 264).cast("int").as("PULocationID"),
        (lit(1) + pow(r(14), 2) * 264).cast("int").as("DOLocationID"),
        (lit(1) + (r(15) * 4).cast("long")).as("payment_type"),
        fare.as("fare_amount"),
        lit(0.5).as("mta_tax"),
        round(r(16) * 5, 2).as("tip_amount"),
        round(fare + lit(0.5) + r(16) * 5, 2).as("total_amount"),
        lit(2.5).as("congestion_surcharge"))
  }

  /** Rows `from until until` of the `table_dml` table: key `k`, a group
    * `g` = `k` mod 1000 and a seeded payload `v`, in `files` files. */
  def dmlRows(spark: SparkSession, seed: Long, from: Long, until: Long, files: Int = 1): DataFrame =
    spark.range(from, until, 1, files).select(
      col("id").as("k"),
      pmod(col("id"), lit(1000L)).as("g"),
      pmod(xxhash64(lit(seed), col("id")), lit(1000000L)).as("v"))

  /** The `v` that `dmlRows(seed, …)` gives key `k` (Spark's xxhash64). */
  def dmlValue(seed: Long, k: Long): Long =
    Math.floorMod(XXH64.hashLong(k, XXH64.hashLong(seed, 42L)), 1000000L)
}
