package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus drain: Spark delivers listener events asynchronously, so
  * the benchmark waits for the bus to empty at region boundaries before it
  * reads its counters. `listenerBus` is Spark-internal, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
