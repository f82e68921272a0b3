package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters are complete when the benchmark reads them. The
  * bus is package-private to Spark, hence this one-line bridge. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
