package org.apache.spark.perfbenchaccess

import org.apache.spark.SparkContext

/** Spark keeps `listenerBus.waitUntilEmpty` package-private; the traced
  * run needs it so that listener counts start and stop exactly at the
  * timed phase instead of trailing the asynchronous event queue.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
