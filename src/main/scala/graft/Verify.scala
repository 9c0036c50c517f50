package graft
import graft.core.Sessions
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.build("graft-verify", Some(s"local[$cpus]"), cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (never set by the driver): comma-separated
    // substrings, any-match; restricts both the dump and oracle_sql.json so
    // check_oracle sees a closed set
    val filter = sys.env.get("SPARK_GRAFT_VERIFY_FILTER")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    def keep(name: String): Boolean = filter.forall(_.exists(name.contains))
    // Per-query progress JSONL, appended as each dump lands — a truncated
    // run still leaves an exact record of what completed (VERDICT r4 #1).
    val progress = new java.io.PrintWriter(
      new java.io.FileWriter(s"$outDir/verify_progress.jsonl", false), true)
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        progress.println(
          s"""{"query":"$name","status":"ok","sec":${(System.nanoTime() - t0) / 1e9}}""")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        progress.println(s"""{"query":"$name","status":"failed"}""")
      }
    }
    progress.close()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
