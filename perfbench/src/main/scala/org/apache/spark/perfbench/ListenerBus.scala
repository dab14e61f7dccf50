package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so counters read after an action include all of its
  * tasks. (`waitUntilEmpty` is package-private to Spark.) */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
