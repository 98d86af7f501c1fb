package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the scheduler's listener bus, which is package-private to
  * Spark, so a span can wait until every task event before its end has
  * been delivered to the benchmark's listener. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
