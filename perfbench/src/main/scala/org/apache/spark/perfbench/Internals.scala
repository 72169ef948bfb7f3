package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark-private hooks the benchmark needs: waiting for the listener bus,
  * so a query's listener events are all counted before the next starts. */
object Internals {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
