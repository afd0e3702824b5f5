package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced round's spans are complete before listeners are detached. The
  * bus is package-private to Spark, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
