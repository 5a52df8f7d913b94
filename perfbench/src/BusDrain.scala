package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * counters read after a query include all of its tasks. The bus is
  * package-private; this is the one reach into it. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
