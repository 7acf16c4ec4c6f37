package org.apache.spark

/** Blocks until every listener event posted so far has been delivered
  * (the bus is private to Spark, hence this package), so a spec reads
  * listener counters only after the events it cares about arrived. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
