package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Sessions

/** Derive an N×-scaled bench dataset from a driver-generated SF directory
  * (events / documents / embeddings — the tables the expensive registry
  * queries read), for the empirical scale check of the engine's O()
  * claims: run `graft.Bench` against the output and compare per-query
  * time against the base SF — a query whose cost claim is linear must
  * scale ≲ N×.
  *
  * Replicas are key-shifted so ids stay unique, and document text is
  * salted per replica (a verbatim 10× copy would make every doc a
  * 10-way near-duplicate and quadratically inflate the dedup candidate
  * space — that would measure the DATA being pathological, not the
  * algorithm). Timestamps are kept, so time-window state grows with
  * per-window density — the streaming scale dimension that matters.
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <outDir> [factor=10] [saltMode=translate]
  *
  * saltMode picks the document-replica model:
  *   - `translate` (default): every word gets a replica suffix — 10
  *     disjoint sub-corpora whose shingle-df DISTRIBUTION matches the
  *     base corpus (the faithful model of a bigger crawl).
  *   - `stress`: a replica token interleaved between words — every
  *     common word becomes a per-replica BOILERPLATE shingle shared by
  *     thousands of docs. This is the adversarial hot-shingle corpus a
  *     real crawl's boilerplate produces; it exists to prove candidate
  *     generation stays bounded under it (the nj_hot absolute df cap).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val saltMode = if (args.length > 3) args(3) else "translate"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.build("graft-scaleup", Some(s"local[$cpus]"), cpus.toInt)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.sparkContext.setLogLevel("ERROR")

    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => shift(df, k)).reduce(_ unionByName _)

    val keyStep = 1000000000L

    replicate(spark.read.parquet(s"$src/events.parquet")) { (df, k) =>
      df.withColumn("event_id", col("event_id") + lit(k * keyStep))
        .withColumn("user_id", col("user_id") + lit(k * 10000L))
    }.write.mode("overwrite").parquet(s"$out/events.parquet")

    replicate(spark.read.parquet(s"$src/documents.parquet")) { (df, k) =>
      // (a rejected third salt — a suffix token only — left replicas as
      // genuine 10-way near-dup families, ~45× true pairs: it measured
      // the data, not the algorithm)
      val salted =
        if (k == 0) df
        else if (saltMode == "stress")
          df.withColumn("text",
            regexp_replace(col("text"), lit(" "), lit(s" z$k ")))
        else
          df.withColumn("text",
            regexp_replace(col("text"), lit("(\\S+)"), lit(s"$$1z$k")))
      salted.withColumn("doc_id", col("doc_id") + lit(k * keyStep))
    }.write.mode("overwrite").parquet(s"$out/documents.parquet")

    replicate(spark.read.parquet(s"$src/embeddings.parquet")) { (df, k) =>
      val jittered =
        if (k == 0) df
        else df.withColumn("embedding",
          transform(col("embedding"), x => x + lit(k * 1e-4f)))
      jittered.withColumn("vec_id", col("vec_id") + lit(k * keyStep))
    }.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // relational spine copied as-is (the scale check targets the
    // events/documents/embeddings-bound queries; TPC-H shapes have their
    // own SF series from the driver)
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")) {
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"""{"scaled":"$out","factor":$factor}""")
    spark.stop()
  }
}
