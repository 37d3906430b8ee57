package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * listener counts read right after an action are complete. The bus is
  * package-private to Spark, hence this object's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
