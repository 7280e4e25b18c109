package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * a traced phase's counters are complete before they are read. The bus
  * is private to Spark; this accessor lives in Spark's package for that
  * reason alone. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
