package org.apache.spark.lambdabench

import org.apache.spark.SparkContext

/** Listener-bus barrier: listener events are delivered asynchronously, so a
  * traced pass waits until every event it caused has reached the listeners
  * before its counters are read. The bus is package-private to Spark, hence
  * this file's package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
