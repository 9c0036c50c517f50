package graft.marts

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The 11 aggregate marts (SURVEY.md §2.5 A1-A8, plus A9 from the export job),
  * stated as one table of [[Mart]] definitions over a prepared trips-shaped
  * frame. Column names are parameters so the same definitions run on the TLC
  * shape and on the synthetic `events` analog
  * (ts->pickup, value->fare, event_type->payment, user_id->location).
  *
  * A definition is evaluated two ways, both read from the same table:
  *   - [[plan]]: the mart's own plan — a partial+final hash aggregate
  *     (map-side combine is free from Catalyst); top-k marts compile to
  *     `TakeOrderedAndProject` (no global sort). The per-mart functions
  *     below (`kpis`, `topZones`, ...) are this plan; registry queries use
  *     them.
  *   - [[evaluateAll]]: every mart of a job from one grouping-sets query —
  *     one scan of the input for all marts, one shuffle per aggregate (two:
  *     percentile sets apart) and one of the aggregated rows for the top-k
  *     cut — split and ordered on the driver. Driver memory is O(mart
  *     output).
  * Output column names follow the reference's export schemas
  * (`/root/repo/FIXTURES.md` §A3).
  */
object Marts {

  /** One aggregate a mart computes. */
  sealed trait Agg
  case object Count extends Agg
  final case class Avg(c: String) extends Agg
  final case class Std(c: String) extends Agg
  /** `exact` = `percentile`; otherwise the reference's
    * `percentile_approx(…, 10000)`. */
  final case class Pct(c: String, p: Double, exact: Boolean) extends Agg

  /** One sort key of a mart's order (ascending = nulls first, descending =
    * nulls last, as `orderBy`). */
  final case class By(c: String, descending: Boolean = false)

  /** A mart: add `derived` columns, group by `keys` (none = one global row),
    * compute the named `aggs`, sort by `order`, keep the first `limit`. */
  final case class Mart(
      keys: Seq[String],
      aggs: Seq[(String, Agg)],
      order: Seq[By] = Nil,
      limit: Option[Int] = None,
      derived: Seq[(String, Column)] = Nil)

  /** One evaluated mart: its rows in order, with its plan's schema. */
  final case class Output(name: String, schema: StructType, rows: Seq[Row])

  private def column(a: Agg): Column = a match {
    case Count => count(lit(1))
    case Avg(c) => avg(col(c))
    case Std(c) => stddev(col(c))
    case Pct(c, p, exact) =>
      if (exact) expr(s"percentile($c, $p)") else expr(s"percentile_approx($c, $p, 10000)")
  }

  private def sortColumn(b: By, c: Column): Column = if (b.descending) c.desc else c

  private def withDerived(df: DataFrame, derived: Seq[(String, Column)]): DataFrame =
    derived.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }

  /** The mart's own plan over `df`. */
  def plan(m: Mart, df: DataFrame): DataFrame = {
    val aggs = m.aggs.map { case (n, a) => column(a).as(n) }
    val grouped = withDerived(df, m.derived).groupBy(m.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val sorted =
      if (m.order.isEmpty) grouped else grouped.orderBy(m.order.map(b => sortColumn(b, col(b.c))): _*)
    m.limit.fold(sorted)(sorted.limit)
  }

  /** Every mart of `marts` from one query over `df`: grouping-sets
    * aggregates, one grouping set per distinct key set. Rows, order and
    * schema equal [[plan]]'s for each mart:
    *   - sets whose marts take a percentile get their own aggregate, so no
    *     other group builds a digest. A digest is an object buffer: its
    *     aggregate runs as `ObjectHashAggregate`, which past
    *     `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (128)
    *     groups per task falls back to sort and merges each group's partial
    *     sums in another order than the marts' own plans — off in the last
    *     bit. The percentile sets stay exact while they hold fewer groups
    *     (hour and day: 31). Both aggregates read one local checkpoint of
    *     `df`: one job scans it once (a cache would be built by one job per
    *     aggregate);
    *   - top-k sets are cut to k inside the plan by a `row_number` window
    *     (Catalyst pushes it below the shuffle as a `WindowGroupLimit`);
    *     every other group is alone in its window partition and kept;
    *   - the driver sorts each mart with Catalyst's own ordering, so nulls
    *     and NaN sort as `orderBy` sorts them;
    *   - a grouping-sets aggregate over empty input returns no row for the
    *     global set, so a global mart with no row gets the row `plan` gives
    *     an empty input: counts 0, every other aggregate null.
    * The driver holds at most the marts' own output rows. */
  def evaluateAll(df: DataFrame, marts: Seq[(String, Mart)]): Seq[Output] = {
    val keys = marts.flatMap(_._2.keys).distinct
    // grouping_id(): one bit per grouping column, the first column highest,
    // set when the column is NOT in the grouping set
    def gid(m: Mart): Long = keys.foldLeft(0L)((g, k) => (g << 1) | (if (m.keys.contains(k)) 0L else 1L))
    val aggs = marts.flatMap(_._2.aggs.map(_._2)).distinct
    def fused(m: Mart, name: String): String =
      m.aggs.find(_._1 == name).fold(name)(a => s"__a${aggs.indexOf(a._2)}")
    val (digests, sums) = marts.map(_._2.keys).distinct.partition(ks =>
      marts.exists { case (_, m) => m.keys == ks && m.aggs.exists(_._2.isInstanceOf[Pct]) })
    val inputs = keys ++ aggs.collect { case Avg(c) => c; case Std(c) => c; case Pct(c, _, _) => c }
    val prepared = withDerived(df, marts.flatMap(_._2.derived).distinctBy(_._1)).select(inputs.distinct.map(col): _*)
    val checkpointed = digests.nonEmpty && sums.nonEmpty
    val input = if (checkpointed) prepared.localCheckpoint() else prepared
    def aggregate(sets: Seq[Seq[String]]): DataFrame = {
      val cols = marts.filter(m => sets.contains(m._2.keys)).flatMap(_._2.aggs.map(_._2)).distinct
        .map(a => column(a).as(s"__a${aggs.indexOf(a)}"))
      input.groupingSets(sets.map(_.map(col)), keys.map(col): _*).agg(grouping_id().as("__gid"), cols: _*)
    }
    val grouped = Seq(digests, sums).filter(_.nonEmpty).map(aggregate)
      .reduce(_.unionByName(_, allowMissingColumns = true))

    val limited = marts.collect { case (n, m) if m.limit.isDefined => (n, m, gid(m)) }
    limited.foreach { case (n, m, g) =>
      require(m.keys.forall(k => m.order.exists(_.c == k)),
        s"mart $n: a top-k order must cover the keys, or the cut is not deterministic")
      require(marts.count { case (_, o) => gid(o) == g } == 1,
        s"mart $n: a top-k mart cannot share its key set with another mart")
    }
    val cut =
      if (limited.isEmpty) grouped
      else {
        val g = col("__gid")
        val isLimited = g.isin(limited.map(_._3): _*)
        val rank = Window
          .partitionBy(g +: keys.map(k => when(!isLimited, col(k))): _*)
          .orderBy(limited.flatMap { case (_, m, id) =>
            m.order.map(b => sortColumn(b, when(g === id, col(fused(m, b.c)))))
          }: _*)
        grouped.withColumn("__rn", row_number().over(rank))
          .filter(col("__rn") <= limited.map(_._2.limit.get).max)
          .drop("__rn")
      }

    val fields = cut.schema.fieldNames
    val bySet =
      try cut.collect().groupBy(r => r.getAs[Number]("__gid").longValue)
      // a local checkpoint's blocks otherwise live until its RDD is garbage
      finally if (checkpointed) input.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ => ()
      }
    marts.map { case (name, m) =>
      val schema = plan(m, df).schema
      val idx = schema.fieldNames.toSeq.map(f => fields.indexOf(fused(m, f)))
      idx.zip(schema.fields).foreach { case (i, f) =>
        require(cut.schema(i).dataType == f.dataType,
          s"mart $name: ${f.name} is ${cut.schema(i).dataType} fused, ${f.dataType} alone")
      }
      val own = bySet.getOrElse(gid(m), Array.empty[Row]).toSeq.map(r => Row.fromSeq(idx.map(r.get)))
      val rows =
        if (m.keys.isEmpty && own.isEmpty) Seq(Row.fromSeq(m.aggs.map { case (_, a) => if (a == Count) 0L else null }))
        else own
      val sorted = sortRows(rows, schema, m.order)
      Output(name, schema, m.limit.fold(sorted)(sorted.take))
    }
  }

  /** `rows` in `order` under Catalyst's ordering for `schema`. */
  private def sortRows(rows: Seq[Row], schema: StructType, order: Seq[By]): Seq[Row] =
    if (order.isEmpty) rows
    else {
      val toInternal = ExpressionEncoder(RowEncoder.encoderFor(schema)).createSerializer()
      val attrs = DataTypeUtils.toAttributes(schema)
      val ordering = new InterpretedOrdering(order.map { b =>
        SortOrder(attrs(schema.fieldIndex(b.c)), if (b.descending) Descending else Ascending)
      }, attrs)
      rows.map(r => toInternal(r).copy() -> r).sortBy(_._1)(ordering).map(_._2)
    }

  /** The job's 11 marts over the curated trips frame, by output name. */
  def tripMarts(fare: String): Seq[(String, Mart)] = {
    val (hour, dow, duration, distance) = ("pickup_hour", "pickup_dow", "trip_duration_min", "trip_distance")
    Seq(
      "kpis" -> kpisMart(duration, fare),
      "viajes_por_hora_dia" -> tripsByHourDowMart(hour, dow),
      "duracion_promedio_hora" -> avgByHourMart(hour, duration, "duracion_promedio_min"),
      "tarifa_promedio_hora" -> avgByHourMart(hour, fare, "tarifa_promedio"),
      "top_origen" -> topZonesMart("pu_location", distance, duration, fare),
      "top_destino" -> topZonesMart("do_location", distance, duration, fare),
      "pagos" -> byCategoryMart("payment_type", duration, fare),
      "vendor" -> byCategoryMart("vendor_id", duration, fare),
      "distancia_bins" -> distanceBinsMart(distance, duration, fare),
      "variabilidad_hora" -> variabilityMart(hour, duration, fare),
      "variabilidad_dia" -> variabilityMart(dow, duration, fare)
    )
  }

  /** A1: global KPIs (`/root/reference/scripts/03_spark_eda_agg.py:76-80`). */
  def kpisMart(duration: String, fare: String): Mart =
    Mart(Nil, Seq("total_viajes" -> Count, "duracion_promedio_min" -> Avg(duration),
      "tarifa_promedio" -> Avg(fare)))
  def kpis(df: DataFrame, duration: String, fare: String): DataFrame =
    plan(kpisMart(duration, fare), df)

  /** A2: trip counts by hour x day-of-week (`03:58-62`). */
  def tripsByHourDowMart(hour: String, dow: String): Mart =
    Mart(Seq(hour, dow), Seq("total_viajes" -> Count), Seq(By(dow), By(hour)))
  def tripsByHourDow(df: DataFrame, hour: String, dow: String): DataFrame =
    plan(tripsByHourDowMart(hour, dow), df)

  /** A3/A4: per-hour average of a metric (`03:64-74`). The reference's
    * fare-column fallback (total_amount else fare_amount, `03:56`) is
    * plan-construction logic — see [[fareColumn]]. */
  def avgByHourMart(hour: String, metric: String, out: String): Mart =
    Mart(Seq(hour), Seq(out -> Avg(metric)), Seq(By(hour)))
  def avgByHour(df: DataFrame, hour: String, metric: String, out: String): DataFrame =
    plan(avgByHourMart(hour, metric, out), df)

  /** Fare-column fallback decided from the schema at plan time (`03:56`). */
  def fareColumn(df: DataFrame): String =
    if (df.columns.contains("total_amount")) "total_amount" else "fare_amount"

  /** A5: top-k zones by trip count with per-zone averages (`03:82-104`).
    * `orderBy(desc).limit(k)` -> physical TakeOrderedAndProject: each task
    * keeps a k-row heap, driver merges k*tasks rows — no global sort, scales
    * with k not with data. Tie-broken on the key for determinism. */
  def topZonesMart(zone: String, distance: String, duration: String, fare: String, k: Int = 20): Mart =
    Mart(Seq(zone),
      Seq("total_viajes" -> Count, "distancia_promedio" -> Avg(distance),
        "duracion_promedio_min" -> Avg(duration), "tarifa_promedio" -> Avg(fare)),
      Seq(By("total_viajes", descending = true), By(zone)), Some(k))
  def topZones(df: DataFrame, zone: String, distance: String, duration: String,
               fare: String, k: Int = 20): DataFrame =
    plan(topZonesMart(zone, distance, duration, fare, k), df)

  /** A6: distribution by a categorical key (payment_type / vendor_id,
    * `03:106-124`). */
  def byCategoryMart(key: String, duration: String, fare: String): Mart =
    Mart(Seq(key),
      Seq("total_viajes" -> Count, "duracion_promedio_min" -> Avg(duration), "tarifa_promedio" -> Avg(fare)),
      Seq(By("total_viajes", descending = true), By(key)))
  def byCategory(df: DataFrame, key: String, duration: String, fare: String): DataFrame =
    plan(byCategoryMart(key, duration, fare), df)

  /** E5: 6-way distance bucketing CASE chain with parallel sort ordinal
    * (`03:126-144`). Strict `<` boundary semantics preserved. */
  def distanceBinColumns(distance: String): Seq[(String, Column)] = {
    val d = col(distance)
    Seq(
      "distancia_bin" -> when(d < 1, "0-1").when(d < 3, "1-3").when(d < 5, "3-5")
        .when(d < 10, "5-10").when(d < 20, "10-20").otherwise("20+"),
      "distancia_orden" -> when(d < 1, 1).when(d < 3, 2).when(d < 5, 3)
        .when(d < 10, 4).when(d < 20, 5).otherwise(6))
  }
  def withDistanceBins(df: DataFrame, distance: String): DataFrame =
    withDerived(df, distanceBinColumns(distance))

  /** A7: distance-bin distribution (`03:126-153`). */
  def distanceBinsMart(distance: String, duration: String, fare: String): Mart =
    Mart(Seq("distancia_bin", "distancia_orden"),
      Seq("total_viajes" -> Count, "distancia_promedio" -> Avg(distance),
        "duracion_promedio_min" -> Avg(duration), "tarifa_promedio" -> Avg(fare)),
      Seq(By("distancia_orden")), derived = distanceBinColumns(distance))
  def distanceBins(df: DataFrame, distance: String, duration: String, fare: String): DataFrame =
    plan(distanceBinsMart(distance, duration, fare), df)

  /** A8: variability mart — count/avg/stddev(sample)/p25-p50-p75 for duration
    * and fare, percentile arrays unpacked then dropped (`03:155-213`).
    *
    * `exact = false` reproduces the reference (`percentile_approx`, accuracy
    * 10000); `exact = true` uses exact `percentile` (single sort-based agg) so
    * the result is reproducible in ANSI SQL (`quantile_cont`) for the oracle.
    */
  def variabilityMart(key: String, duration: String, fare: String, exact: Boolean = false): Mart =
    Mart(Seq(key),
      Seq("total_viajes" -> Count,
        "duracion_promedio_min" -> Avg(duration), "duracion_std" -> Std(duration),
        "tarifa_promedio" -> Avg(fare), "tarifa_std" -> Std(fare),
        "duracion_p25" -> Pct(duration, 0.25, exact), "duracion_p50" -> Pct(duration, 0.50, exact),
        "duracion_p75" -> Pct(duration, 0.75, exact),
        "tarifa_p25" -> Pct(fare, 0.25, exact), "tarifa_p50" -> Pct(fare, 0.50, exact),
        "tarifa_p75" -> Pct(fare, 0.75, exact)),
      Seq(By(key)))
  def variability(df: DataFrame, key: String, duration: String, fare: String,
                  exact: Boolean = false): DataFrame =
    plan(variabilityMart(key, duration, fare, exact), df)

  /** A9 + E6-E8: per-hour prediction-error mart
    * (`/root/reference/scripts/06_export_for_dashboard.py:162-180`):
    * MAE = avg(|pred-label|), RMSE = sqrt(avg((pred-label)^2)). */
  def errorsByHour(df: DataFrame, hour: String, pred: String, label: String): DataFrame = {
    val diff = col(pred) - col(label)
    df.groupBy(col(hour))
      .agg(
        count(lit(1)).as("total_viajes"),
        avg(abs(diff)).as("mae"),
        sqrt(avg(pow(diff, 2))).as("rmse"),
        avg(col(pred)).as("pred_promedio"),
        avg(col(label)).as("real_promedio")
      )
      .orderBy(col(hour))
  }
}
