package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Dumps, Tables}
import graft.etl.Features
import graft.ml.Pipelines
import graft.ml.Pipelines.RegressionConfig

/** ML pipeline queries (SURVEY.md §2.9 M1-M9). Training is not
  * SQL-expressible, but the SCORING and the metrics are: each query dumps
  * its held-out predictions to a parquet path both engines agree on, then
  * computes RMSE/MAE/R² from that dump with exact decimal accumulation —
  * and the DuckDB oracle recomputes the identical aggregation over the
  * identical files, so the metrics are hash-checked to 4 decimals even
  * though the tree-ensemble fit itself is engine-specific (VERDICT r3
  * item #1c: rows-only → bound-checked).
  *
  * Determinism choices for stable row counts: a key-mod train/test split
  * (instead of partition-layout-dependent `randomSplit`) and fixed seeds
  * everywhere.
  *
  * The reference trains `trip_duration_min` from temporal + categorical
  * features (`scripts/04_train_sparkml.py:93-99`); the synthetic analog
  * trains `value` from (event_hour, event_dow, is_weekend; event_type).
  * Training frames are capped like the reference's `--max-rows` (300k)
  * so fit time stays bounded at any scale factor; scoring runs on the full
  * frame (transform is embarrassingly parallel).
  */
object MlQueries {

  private def prepared(s: SparkSession, dir: String): DataFrame =
    Features.withTemporal(Tables.events(s, dir), "ts", "event")
      .select(
        col("event_id"), col("value"),
        col("event_hour").cast("double").as("event_hour"),
        col("event_dow").cast("double").as("event_dow"),
        col("is_weekend").cast("double").as("is_weekend"),
        col("event_type")
      )

  private val cfgBase = RegressionConfig(
    label = "value",
    numericCols = Seq("event_hour", "event_dow", "is_weekend"),
    categoricalCols = Seq("event_type")
  )

  /** Deterministic 80/20 key-mod split (O5 analog; see scaladoc). */
  private def split(df: DataFrame): (DataFrame, DataFrame) =
    (df.filter(pmod(col("event_id"), lit(10)) < 8),
     df.filter(pmod(col("event_id"), lit(10)) >= 8))

  /** Prediction-dump root: see [[graft.core.Dumps]] — one shared constant so
    * the engine dump and the oracle SQL can never drift apart. */
  private def dumpDir(dir: String): String = Dumps.forSf(dir)

  /** Train on the capped key-mod train split, score the held-out split, and
    * persist (event_id, value, prediction, event_hour) at full double
    * precision; returns the dump read back so downstream metrics aggregate
    * exactly the rows DuckDB will see. */
  private def trainScoreDump(s: SparkSession, dir: String,
                             cfg: RegressionConfig, tag: String): DataFrame = {
    val df = prepared(s, dir)
    val (train, test) = split(df)
    val capped = train.limit(300000).cache()
    capped.count() // materialize: every fit iteration must read memory, not parquet
    val model = Pipelines.regression(capped, cfg).fit(capped)
    capped.unpersist(blocking = false)
    val path = s"${dumpDir(dir)}/${tag}_preds"
    Pipelines.transform(model, test)
      .select(col("event_id"), col("value"), col("prediction"),
        col("event_hour").cast("long").as("event_hour"))
      .write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  /** Exact decimal accumulation of a per-row double term: the per-row value
    * is bit-identical across engines (same IEEE ops), the sum is
    * order-insensitive (decimal), so the aggregate is hash-stable. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(24,8)")).cast("double")

  private val err = col("value") - col("prediction")

  /** A9-shaped error mart recomputed from the dump (count, MAE, RMSE per
    * hour) — mirrored verbatim by the oracle SQL over `read_parquet`. */
  private def errorMart(preds: DataFrame): DataFrame =
    preds.groupBy(col("event_hour"))
      .agg(
        count(lit(1)).as("total_viajes"),
        round(dsum(abs(err)) / count(lit(1)), 4).as("mae"),
        round(sqrt(dsum(err * err) / count(lit(1))), 4).as("rmse"))
      .orderBy(col("event_hour"))

  private def errorMartSql(tag: String): String =
    s"""SELECT event_hour, COUNT(*) AS total_viajes,
       |  ROUND(CAST(SUM(CAST(ABS(value - prediction) AS DECIMAL(24,8))) AS DOUBLE) / COUNT(*), 4) AS mae,
       |  ROUND(SQRT(CAST(SUM(CAST((value - prediction) * (value - prediction) AS DECIMAL(24,8))) AS DOUBLE) / COUNT(*)), 4) AS rmse
       |FROM read_parquet('${Dumps.oracleSf}/${tag}_preds/*.parquet')
       |GROUP BY event_hour ORDER BY event_hour""".stripMargin

  /** M4+M7: GBT train + score; per-hour error mart hash-checked vs DuckDB
    * over the prediction dump. */
  private def gbtScore(s: SparkSession, dir: String): DataFrame =
    errorMart(trainScoreDump(s, dir, cfgBase.copy(maxIter = 10), "gbt"))

  /** M5+M7: RandomForest variant (reference `--algoritmo rf`). */
  private def rfScore(s: SparkSession, dir: String): DataFrame =
    errorMart(trainScoreDump(s, dir, cfgBase.copy(algo = "rf", numTrees = 20, rfMaxDepth = 8), "rf"))

  /** M8 + the reference's single-row metrics record
    * (`scripts/04_train_sparkml.py:132-151`): rmse/mae/r2 + split counts as
    * one row. R² uses the single-pass identity
    * SS_tot = Σv² − (Σv)²/n over exact decimal sums, so both engines
    * evaluate the same double expression over the same exact inputs. Split
    * counts are SQL-derivable: train = min(count(key-mod<8), 300000) —
    * `limit(300000)` takes exactly 300k when more are available — and test
    * is the dump's own row count. */
  private def metricsRecord(s: SparkSession, dir: String): DataFrame = {
    val preds = trainScoreDump(s, dir, cfgBase.copy(maxIter = 5), "gbt5")
    val nTrain = math.min(
      Tables.events(s, dir).filter(pmod(col("event_id"), lit(10)) < 8).count(), 300000L)
    preds.agg(
        count(lit(1)).as("n"),
        dsum(err * err).as("ssres"),
        dsum(abs(err)).as("sae"),
        dsum(col("value")).as("sv"),
        dsum(col("value") * col("value")).as("sv2"))
      .select(
        lit("gbt").as("algoritmo"),
        round(sqrt(col("ssres") / col("n")), 4).as("rmse"),
        round(col("sae") / col("n"), 4).as("mae"),
        round(lit(1.0) - col("ssres") / (col("sv2") - col("sv") * col("sv") / col("n")), 4).as("r2"),
        lit(nTrain).as("filas_entrenamiento"),
        col("n").as("filas_prueba"))
  }

  private val metricsSql: String =
    s"""WITH a AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CAST((value - prediction) * (value - prediction) AS DECIMAL(24,8))) AS DOUBLE) AS ssres,
      |    CAST(SUM(CAST(ABS(value - prediction) AS DECIMAL(24,8))) AS DOUBLE) AS sae,
      |    CAST(SUM(CAST(value AS DECIMAL(24,8))) AS DOUBLE) AS sv,
      |    CAST(SUM(CAST(value * value AS DECIMAL(24,8))) AS DOUBLE) AS sv2
      |  FROM read_parquet('${Dumps.oracleSf}/gbt5_preds/*.parquet')),
      |t AS (
      |  SELECT CAST(LEAST(COUNT(*) FILTER (WHERE event_id % 10 < 8), 300000) AS BIGINT) AS filas_entrenamiento
      |  FROM events)
      |SELECT 'gbt' AS algoritmo,
      |  ROUND(SQRT(ssres / n), 4) AS rmse,
      |  ROUND(sae / n, 4) AS mae,
      |  ROUND(CAST(1.0 AS DOUBLE) - ssres / (sv2 - sv * sv / n), 4) AS r2,
      |  filas_entrenamiento,
      |  n AS filas_prueba
      |FROM a, t""".stripMargin

  val all: Seq[QuerySpec] = Seq(
    QuerySpec("ml_gbt_score", gbtScore, Some(errorMartSql("gbt"))),
    QuerySpec("ml_rf_score", rfScore, Some(errorMartSql("rf"))),
    QuerySpec("ml_metrics_record", metricsRecord, Some(metricsSql))
  )
}
