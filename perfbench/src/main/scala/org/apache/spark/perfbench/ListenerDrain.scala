package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so the
  * traced run reads complete counters. The bus is private to Spark,
  * hence this one file in Spark's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
