package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait until every listener event posted so far
  * has been delivered, so a measurement window is complete before it
  * is read. (The bus is package-private to Spark.) */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
