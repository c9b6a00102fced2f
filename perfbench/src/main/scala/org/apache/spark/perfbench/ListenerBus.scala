package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run drains the bus at each span boundary so that the
  * listener counts read there include every event the span caused. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
