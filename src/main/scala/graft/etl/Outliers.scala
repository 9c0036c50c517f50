package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** F3: percentile-band outlier removal
  * (`/root/reference/src/etl/clean.py:51-64`).
  *
  * The reference filters each column to its approx [p1, p99] band
  * SEQUENTIALLY: column k+1's quantiles are computed on data already filtered
  * by column k. That ordering is semantically significant (SURVEY.md §7.3), so
  * the faithful mode preserves it.
  *
  * Scale notes:
  *   - `approxQuantile` is the Greenwald-Khanna sketch — one distributed pass
  *     per call, constant driver memory. Fine at 100 TB.
  *   - The sequential mode re-executes the upstream plan once per column; the
  *     caller should `.cache()` (or checkpoint) the input frame first and keep
  *     it until the filtered frame's last use (`Jobs.etl` keeps it through
  *     the curated write). The single-pass mode computes all columns' bands
  *     in ONE sketch pass over the unfiltered frame (different, looser
  *     semantics; 3x fewer scans).
  */
object Outliers {

  /** Faithful sequential mode. relativeError matches the reference's 0.01. */
  def sequential(
      df: DataFrame,
      cols: Seq[String],
      pLow: Double = 0.01,
      pHigh: Double = 0.99,
      relErr: Double = 0.01
  ): DataFrame =
    cols.foldLeft(df) { (acc, c) =>
      val Array(lo, hi) = acc.stat.approxQuantile(c, Array(pLow, pHigh), relErr)
      acc.filter(col(c) >= lo && col(c) <= hi)
    }

  /** Single-pass mode: one sketch job for ALL columns on the unfiltered frame,
    * then one conjunctive filter. Bands are computed jointly, not sequentially
    * — documents the semantic difference, 3x fewer scans at scale. */
  def singlePass(
      df: DataFrame,
      cols: Seq[String],
      pLow: Double = 0.01,
      pHigh: Double = 0.99,
      relErr: Double = 0.01
  ): DataFrame = {
    val bands = df.stat.approxQuantile(cols.toArray, Array(pLow, pHigh), relErr)
    val pred = cols.zip(bands).map { case (c, Array(lo, hi)) =>
      col(c) >= lo && col(c) <= hi
    }.reduce(_ && _)
    df.filter(pred)
  }

  /** Exact-percentile band filter, expressed fully inside one Catalyst plan
    * (no driver-side action): computes `percentile(c, p)` in a single global
    * aggregate and broadcast-cross-joins the 1-row band frame back. Used by the
    * oracle-checked queries because exact percentiles are reproducible in
    * standard SQL (`quantile_cont`), unlike the GK sketch. */
  def exactBandFilter(
      df: DataFrame,
      c: String,
      pLow: Double = 0.01,
      pHigh: Double = 0.99
  ): DataFrame = {
    val bands = df.agg(
      expr(s"percentile($c, $pLow)").as("__lo"),
      expr(s"percentile($c, $pHigh)").as("__hi")
    )
    df.crossJoin(broadcast(bands))
      .filter(col(c) >= col("__lo") && col(c) <= col("__hi"))
      .drop("__lo", "__hi")
  }
}
