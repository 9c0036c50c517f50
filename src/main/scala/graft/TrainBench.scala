package graft

import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}
import graft.etl.Features
import graft.ml.Pipelines
import graft.ml.Pipelines.RegressionConfig

/** Wall-clock check of the ONE timing number the reference publishes:
  * ≈6.4 min average per monthly GBT train job at a 300,000-row cap
  * (BASELINE.md, from the reference's committed `metricas_modelo`
  * exports; `scripts/04_train_sparkml.py:114,131-151` — randomSplit
  * [0.8, 0.2] seed 42, GBTRegressor maxIter=50 maxDepth=5 seed 42).
  * This harness runs the same-shaped job on the synthetic `events`
  * table — 300k-row cap, the same split, the same estimator economy —
  * times fit / score / metrics separately, and emits one JSON line with
  * the ratio against the 384 s baseline, so the "match-or-beat
  * single-node throughput" contract is checked against a committed
  * artifact instead of assumed.
  *
  * Usage: runMain graft.TrainBench [outJsonlPath]
  */
object TrainBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.build("graft-trainbench", Some(s"local[$cpus]"), cpus.toInt)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.sparkContext.setLogLevel("ERROR")

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    // the reference's feature shape on the synthetic analog: temporal
    // numerics + one categorical, label = value (MlQueries' mapping of
    // scripts/04_train_sparkml.py:93-99)
    val base = Features.withTemporal(Tables.events(spark, sfDir), "ts", "event")
      .select(col("value"),
        col("event_hour").cast("double").as("event_hour"),
        col("event_dow").cast("double").as("event_dow"),
        col("is_weekend").cast("double").as("is_weekend"),
        col("event_type"))
    // the baseline's row grain is EXACTLY the 300k cap (239,843 train
    // rows) — a smaller SF table would fit faster for the wrong reason,
    // so replicate deterministically up to the cap before capping
    val n = base.count()
    val reps = math.max(1L, (300000L + n - 1) / n).toInt
    val df = (if (reps == 1) base
              else (1 to reps).map(_ => base).reduce(_ unionByName _))
      .limit(300000) // the reference's --max-rows cap
    val Array(train, test) = df.randomSplit(Array(0.8, 0.2), seed = 42L)
    val trainC = train.cache(); val testC = test.cache()
    val (trainRows, testRows) = (trainC.count(), testC.count())

    val cfg = RegressionConfig(label = "value",
      numericCols = Seq("event_hour", "event_dow", "is_weekend"),
      categoricalCols = Seq("event_type"))
    val (model, fitSec) = time(Pipelines.regression(trainC, cfg).fit(trainC))
    val (scored, scoreSec) = time {
      val s = Pipelines.transform(model, testC).select(col("value"), col("prediction")).cache()
      s.count(); s
    }
    val (metrics, metricSec) = time(Pipelines.evaluate(scored, "value"))
    val total = fitSec + scoreSec + metricSec
    val baseline = 384.0 // ≈6.4 min, BASELINE.md's derived per-month figure
    val line =
      f"""{"train_bench":"gbt_50x5_300k","train_rows":$trainRows,"test_rows":$testRows,""" +
        f""""fit_sec":$fitSec%.3f,"score_sec":$scoreSec%.3f,"metrics_sec":$metricSec%.3f,""" +
        f""""total_sec":$total%.3f,"baseline_sec":$baseline%.1f,""" +
        f""""ratio_vs_baseline":${total / baseline}%.4f,"rmse":${metrics.rmse}%.4f,""" +
        f""""r2":${metrics.r2}%.4f,"sf":"$sfDir"}"""
    println(line)
    args.headOption.foreach { p =>
      val w = new java.io.PrintWriter(new java.io.FileWriter(p, false), true)
      w.println(line); w.close()
    }
    spark.stop()
  }
}
