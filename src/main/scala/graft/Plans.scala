package graft

import graft.core.Sessions

/** Plan inspector: prints `explain("formatted")` for selected queries so the
  * physical shape (PushedFilters, ReadSchema pruning, broadcast joins,
  * WholeStageCodegen spans, TakeOrderedAndProject) can be reviewed against
  * the scale checklist in the module scaladocs. */
object Plans {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
                else Seq("s1_scan_pruned", "j2_revenue_by_nation", "q1_pricing", "a5_top_users",
                  "j_range_tiers", "w_sessionize", "q3_shipping_priority", "j_asof_rates_merge")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.build("graft-plans", Some("local[4]"), 4)
    spark.sparkContext.setLogLevel("ERROR")
    // Dump co-located join plans under the same no-broadcast window their
    // oracles assert in (bucket_join_agg pins ZERO exchanges with
    // broadcast off; a dump taken with broadcast on documents a plan the
    // oracle never runs). The conf is (re-)set AFTER each query function
    // returns: queries that manage their own no-broadcast window restore
    // the conf in a finally, which would otherwise undo a builder-level
    // setting before the explain re-plans.
    val noBroadcast = sys.env.contains("SPARK_GRAFT_PLANS_NO_BROADCAST")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (noBroadcast)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      df.explain("formatted")
    }
    spark.stop()
  }
}
