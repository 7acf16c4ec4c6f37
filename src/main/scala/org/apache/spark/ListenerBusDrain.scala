package org.apache.spark

/** Blocks until every listener event posted so far has been delivered
  * (the bus is private to Spark, hence this package), so a listener's
  * counters are read only after the events they count arrived. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
