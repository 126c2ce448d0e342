package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to the spark package:
  * per-layer numbers are read only after every event was delivered.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
