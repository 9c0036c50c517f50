package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.build("graft-entry-smoke", Some("local[4]"), 4)
    val df = SparkEntry.entry(spark)
    println(s"[entry-smoke] rows=${df.count()}")
    df.show(5)
    spark.stop()
  }
}
