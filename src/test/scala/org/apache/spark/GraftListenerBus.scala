package org.apache.spark

/** Test access to the listener bus: `drain` returns once every event
  * posted so far has reached every listener. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
