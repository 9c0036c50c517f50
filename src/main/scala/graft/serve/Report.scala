package graft.serve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The promoted dashboard layer (SURVEY.md §2.11, A12-A15, J1-J3, E11-E15):
  * everything the reference computes in pandas
  * (`/root/reference/dashboards/streamlit_app.py`) re-expressed as first-class
  * Spark operators, since our engine replaces the pandas tier.
  *
  * Scale notes: these run over MART outputs (small), but are written to be
  * safe over raw data too — weighted re-aggregation is a plain hash aggregate;
  * the cumulative-share window is partitioned when a partition key exists;
  * percentage-of-total uses a scalar-aggregate broadcast join rather than an
  * unpartitioned window over the full data. One rule tells small from big:
  * an input whose every leaf is a local relation (its rows are already on
  * the driver, as in `Jobs.readCsv`'s frames) is small. Over such an input
  * the global cumulative share runs as one range in one partition, with no
  * range sample, checkpoint or offset join.
  */
object Report {

  /** A12: the correct algebra for re-aggregating group averages —
    * sum(avg*n)/sum(n) (`streamlit_app.py:219-229` et al.).
    *
    * The numerator sum is cast to double *after* accumulating, so that when
    * callers feed DECIMAL averages (the cross-engine-reproducible path — sums
    * of decimals are exact and order-insensitive) the result is still a
    * double ratio; with double inputs the cast is an identity. */
  def weightedAvg(avgCol: Column, weightCol: Column): Column =
    sum(avgCol * weightCol).cast("double") / sum(weightCol)

  /** A12 applied: roll up per-group averages to coarser keys with weights
    * (e.g. month -> year per-hour marts, `streamlit_app.py:329-339`). */
  def weightedRollup(df: DataFrame, keys: Seq[String], avgCols: Seq[(String, String)],
                     weight: String): DataFrame = {
    val aggs = count(lit(1)).as("n_groups") +:
      sum(col(weight)).as(weight) +:
      avgCols.map { case (in, out) => weightedAvg(col(in), col(weight)).as(out) }
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** J1 + E12: join two per-key marts and derive a ratio metric
    * (fare-per-minute, `streamlit_app.py:617-627`, `:905-936`). Tiny frames —
    * Catalyst broadcasts. */
  def ratioByKey(a: DataFrame, b: DataFrame, key: String,
                 num: String, den: String, out: String): DataFrame =
    a.join(b, Seq(key), "inner").withColumn(out, col(num) / col(den))

  /** E13: percentage-of-total — divide by a global scalar aggregate via a
    * 1-row broadcast cross join (`streamlit_app.py:785-787`). Avoids the
    * single-partition `Window.partitionBy()` anti-pattern at scale. */
  def pctOfTotal(df: DataFrame, metric: String, out: String = "pct"): DataFrame = {
    val total = df.agg(sum(col(metric)).as("__total"))
    df.crossJoin(broadcast(total))
      .withColumn(out, col(metric) / col("__total") * 100.0)
      .drop("__total")
  }

  /** A14: argmax row lookup — peak hour/day/month (`streamlit_app.py:231-232`
    * et al.) via the built-in `max_by` / `min_by` (Spark >= 3.3). */
  def argmax(df: DataFrame, key: String, metric: String): DataFrame =
    df.agg(
      expr(s"max_by($key, $metric)").as(s"peak_$key"),
      max(col(metric)).as(s"max_$metric"),
      expr(s"min_by($key, $metric)").as(s"trough_$key"),
      min(col(metric)).as(s"min_$metric")
    )

  /** A15: cumulative demand share over ordered hours
    * (`streamlit_app.py:833-848`) — the one window-function-shaped op in the
    * reference. `partitionKeys` empty reproduces the 24-row dashboard case;
    * pass partition keys when running over big data so the window is not a
    * single-task global sort. */
  def cumulativeShare(df: DataFrame, orderKey: String, metric: String,
                      partitionKeys: Seq[String] = Nil): DataFrame = {
    // cum * 100.0 / total (not (cum/total)*100.0): the multiply-first order
    // matches the SQL-oracle rendering bit-for-bit — with integer counts both
    // operands are exact, so the two double ops are fully deterministic.
    if (partitionKeys.nonEmpty) {
      val w = Window.partitionBy(partitionKeys.map(col): _*).orderBy(col(orderKey))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val totalW = Window.partitionBy(partitionKeys.map(col): _*)
      df.withColumn("cum", sum(col(metric)).over(w))
        .withColumn("cum_pct", col("cum") * lit(100.0) / sum(col(metric)).over(totalW))
    } else {
      // No partition keys = a GLOBAL running sum. A bare Window.orderBy
      // would funnel every row through ONE task (the single-partition
      // WindowExec anti-pattern); instead: range-partition by the order
      // key, window WITHIN each sorted range, and add each range's
      // prefix offset — the only global window left runs over the
      // per-range totals (≤ shuffle-partition-count rows, never data).
      // Values are identical for integral metrics (the registry's uses —
      // counts): equal order keys land in one range, so tie handling
      // matches the old single-partition sort, and long addition is
      // associative. (A double metric would see benign reassociation.)
      // A local input (its rows already on the driver) is ONE range: one
      // partition, its offset 0 and its total the partition's sum.
      val isLocal = df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])
      val ranged = if (isLocal) df.coalesce(1) else df.repartitionByRange(col(orderKey))
      val byPart = Window.partitionBy(col("__part"))
      val windowed = ranged.withColumn("__part", spark_partition_id())
        .withColumn("cum0",
          sum(col(metric)).over(byPart.orderBy(col(orderKey))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      if (isLocal)
        windowed.withColumnRenamed("cum0", "cum")
          .withColumn("cum_pct", col("cum") * lit(100.0) / sum(col(metric)).over(byPart))
          .drop("__part")
      else {
        // The windowed frame is checkpointed — ONE RDD behind ONE range
        // exchange — and the per-range totals are taken from it: range
        // bounds come from a sampling pass seeded per RDD, so two
        // independently planned range exchanges may cut different ranges,
        // and `spark_partition_id()` would then disagree between the rows
        // and their totals whenever the exchange is not reused
        // (spark.sql.exchange.reuse=false). The input is also read once
        // instead of three times. Lazy: no extra count job.
        val local = windowed.localCheckpoint(eager = false)
        // per-range totals (≤ shuffle-partition-count rows); the prefix
        // offsets come from a triangular self-join — O(ranges²) pairs of a
        // config-bounded frame, and NO window at all, so nothing in this
        // plan ever logs the single-partition WindowExec warning
        val ptots = local.groupBy(col("__part"))
          .agg(sum(col(metric)).as("__ptot"))
        val offsets = ptots.as("a")
          .join(ptots.select(col("__part").as("__bp"), col("__ptot").as("__bt")),
            col("__bp") < col("__part"), "left")
          .groupBy(col("__part"), col("__ptot"))
          .agg(coalesce(sum(col("__bt")), lit(0L)).as("__off"))
        val total = ptots.agg(sum(col("__ptot")).as("__total"))
        local.join(broadcast(offsets.select(col("__part"), col("__off"))), Seq("__part"))
          .withColumn("cum", col("cum0") + col("__off"))
          .crossJoin(broadcast(total))
          .withColumn("cum_pct", col("cum") * lit(100.0) / col("__total"))
          .drop("__part", "cum0", "__off", "__total")
      }
    }
  }

  /** J3 + E11: code -> label decode against a literal dimension, with
    * fallback "Otro" and "code - label" display concat
    * (`streamlit_app.py:42-64`, `:629-653`). Broadcast hash join. */
  def decode(df: DataFrame, codeCol: String, dim: DataFrame,
             dimCode: String = "code", dimLabel: String = "label"): DataFrame =
    df.join(broadcast(dim), df(codeCol) === dim(dimCode), "left")
      .drop(dimCode)
      .withColumn("etiqueta", coalesce(col(dimLabel), lit("Otro")))
      .drop(dimLabel)
      .withColumn("display", concat_ws(" - ", col(codeCol).cast("string"), col("etiqueta")))

  /** E15: period sort key + label from string year/month partitions
    * (`streamlit_app.py:135-139`). */
  def withPeriod(df: DataFrame, year: String = "year", month: String = "month"): DataFrame =
    df.withColumn("periodo", concat_ws("-", col(year), col(month)))
      .withColumn("periodo_orden", col(year).cast("int") * 100 + col(month).cast("int"))
}
