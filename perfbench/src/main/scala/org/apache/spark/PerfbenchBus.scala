package org.apache.spark

/** The listener bus is Spark-private; the benchmark drains it between
  * timed spans so counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
