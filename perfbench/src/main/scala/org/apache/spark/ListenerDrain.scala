package org.apache.spark

/** Waits for Spark's listener bus to deliver every event posted so far.
  * The bus is package-private to Spark, hence this file's package. */
object ListenerDrain {
  private val TimeoutMs = 60000L

  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(TimeoutMs)
}
