package graft.perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.Jobs
import graft.serve.Report

/** `tlc_batch`: the reference pipeline over one seeded TLC month. One op
  * is one full pass: ETL → 11 marts → batch score → CSV export of the
  * marts and the per-hour errors → dashboard aggregates over the
  * exported CSVs. The pass scores with `prepared`, a model fit ahead of
  * the run, as the reference's monthly job scores with a model trained
  * once; without one (the traced run) the set-up fits it, so the fit is
  * measured as its own layer. */
final class TlcBatch(r: Run, rows: Long, trainRows: Int, prepared: Option[String]) extends Workload {
  val setups = 1
  val cycle = 1
  private val spark = r.spark
  private val (year, month) = (2024, 1)
  private def p(name: String) = s"${r.dir}/tlc/$name"
  private val martNames = Seq("kpis", "viajes_por_hora_dia", "duracion_promedio_hora",
    "tarifa_promedio_hora", "top_origen", "top_destino", "pagos", "vendor",
    "distancia_bins", "variabilidad_hora", "variabilidad_dia")

  private var firstMarts: Map[String, Seq[Seq[String]]] = Map.empty
  private var curatedRows = 0L

  private val model = prepared.getOrElse(p("model"))

  def setup(): Unit = {
    firstMarts = Map.empty
    Gen.tlcTrips(spark, r.seed, rows, year, month).write.mode("overwrite").parquet(p("raw"))
    val raw = spark.read.parquet(p("raw"))
    r.timed("etl", -1)(Jobs.etl(spark, raw, p("curated"), year, month))
    if (prepared.isEmpty) fit(model)
  }

  /** Fits the scoring model on the set-up's curated month into `out`. */
  def fit(out: String): Unit = r.timed("ml.train", -1) {
    Jobs.train(spark, curated(), "rf", out, p("train_metrics"), year, "01", maxRows = Some(trainRows))
  }

  override def release(): Unit = firstMarts = Map.empty

  private var passes = 0L
  def step(): Unit = { passes += 1; r.attempt(s"pass $passes")(pass(passes)) }

  private def curated(): DataFrame =
    spark.read.parquet(p("curated")).filter(col("year") === year.toString && col("month") === f"$month%02d")

  /** One pass; true when every output check held. */
  private def pass(op: Long): Boolean = {
    r.timed("pass", op) {
      val raw = spark.read.parquet(p("raw"))
      r.trace.span("etl", op)(Jobs.etl(spark, raw, p("curated"), year, month))
      val c = curated()
      r.trace.span("marts", op)(Jobs.marts(spark, c, p("marts")))
      r.trace.span("ml.score", op)(Jobs.score(spark, c, model, p("pred"), year, "01"))
      r.trace.span("jobs.export", op) {
        martNames.foreach(m => Jobs.exportCsv(spark.read.parquet(p(s"marts/$m")), p(s"export/$m")))
        Jobs.errorsFromPredictions(spark.read.parquet(p("pred")))
          .foreach(Jobs.exportCsv(_, p("export/errores_hora")))
      }
      r.trace.span("serve.report", op)(dashboard(op))
    }
    verify(op)
  }

  /** The dashboard: one `serve.Report` aggregate per exported file,
    * each collected as a chart would render it. */
  private def dashboard(op: Long): Unit = {
    def read(kind: String)(f: => DataFrame): Unit =
      r.timed(s"read.$kind", op, group = "read", nested = true)(f.collect())
    def csv(m: String) = Jobs.readCsv(spark, p(s"export/$m"))
    val avgs = Seq("duracion_promedio_min" -> "duracion", "tarifa_promedio" -> "tarifa")
    read("weighted_rollup")(Report.weightedRollup(
      csv("variabilidad_hora").withColumn("franja", floor(col("pickup_hour") / 6)),
      Seq("franja"), avgs, "total_viajes"))
    read("weighted_rollup")(Report.weightedRollup(csv("variabilidad_dia"), Nil, avgs, "total_viajes"))
    read("weighted_rollup")(Report.weightedRollup(csv("distancia_bins"), Nil, avgs.take(1), "total_viajes"))
    read("cumulative_share")(Report.cumulativeShare(csv("viajes_por_hora_dia"), "pickup_hour", "total_viajes"))
    read("cumulative_share")(Report.cumulativeShare(csv("errores_hora"), "pickup_hour", "total_viajes"))
    Seq("pagos", "vendor", "top_origen", "top_destino", "kpis")
      .foreach(m => read("pct_of_total")(Report.pctOfTotal(csv(m), "total_viajes")))
    read("argmax")(Report.argmax(csv("duracion_promedio_hora"), "pickup_hour", "duracion_promedio_min"))
    read("argmax")(Report.argmax(csv("tarifa_promedio_hora"), "pickup_hour", "tarifa_promedio"))
  }

  /** Header and rows of an exported single-file CSV. */
  private def csv(m: String): (Seq[String], Seq[Seq[String]]) = {
    val f = new File(p(s"export/$m")).listFiles().filter(_.getName.endsWith(".csv")).head
    val src = scala.io.Source.fromFile(f)
    try {
      val lines = src.getLines().map(_.split(",", -1).toSeq).toVector
      (lines.head, lines.tail)
    } finally src.close()
  }

  /** Checks a pass's outputs: every per-group trip count sums to the
    * curated row count, scored rows equal it with no null prediction, and
    * the marts equal the first pass's in a run of several passes. */
  private def verify(op: Long): Boolean = {
    val files = martNames :+ "errores_hora"
    val exported = files.map(m => m -> csv(m)).toMap
    val n = curated().count()
    val pred = spark.read.parquet(p("pred"))
      .agg(count(lit(1)), count(col("prediction"))).head()
    def trips(m: String): Long = {
      val (header, rows) = exported(m)
      val i = header.indexOf("total_viajes")
      rows.map(_(i).toLong).sum + (if (r.corrupt && m == "kpis") 1 else 0)
    }
    curatedRows = n
    val marts = martNames.map(m => m -> exported(m)._2).toMap
    val sameAsFirst =
      if (firstMarts.isEmpty) { firstMarts = marts; true }
      else martNames.forall(m => sameRows(firstMarts(m), marts(m)))
    val grouped = Seq("kpis", "viajes_por_hora_dia", "pagos", "vendor", "distancia_bins",
      "variabilidad_hora", "variabilidad_dia", "errores_hora")
    grouped.map(m => r.check(trips(m) == n, s"pass $op: $m trips ${trips(m)} != curated rows $n"))
      .forall(identity) &
      r.check(sameAsFirst, s"pass $op: marts differ from the first pass") &
      r.check(pred.getLong(0) == n, s"pass $op: scored ${pred.getLong(0)} != curated $n") &
      r.check(pred.getLong(1) == n, s"pass $op: ${n - pred.getLong(1)} null predictions")
  }

  override def finish(): Seq[Metric] = {
    val passes = r.samples("pass")
    Seq(Metric("batch_rows_per_s", rows * passes.size / (passes.sum / 1000.0), "rows/s"))
  }

  /** Curated rows over raw rows (the ETL filters' and the band's yield). */
  def keptRatio: Double = curatedRows.toDouble / rows

  /** Same multiset of rows, numeric cells equal to a relative 1e-6 (the
    * last bits of a parallel double sum or an approximate percentile may
    * differ between runs of the same plan); other cells exactly. */
  private def sameRows(a: Seq[Seq[String]], b: Seq[Seq[String]]): Boolean = {
    def key(row: Seq[String]) = row.mkString("\u0001")
    a.size == b.size && a.sortBy(key).zip(b.sortBy(key)).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall { case (u, v) =>
        u == v || ((u.toDoubleOption, v.toDoubleOption) match {
          case (Some(p), Some(q)) => math.abs(p - q) <= 1e-6 * math.max(1.0, math.abs(p).max(math.abs(q)))
          case _ => false
        })
      }
    }
  }
}
