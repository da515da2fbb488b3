package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is Spark-private; the benchmark needs to wait for it
  * to deliver every event before it reads its own listener's counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
