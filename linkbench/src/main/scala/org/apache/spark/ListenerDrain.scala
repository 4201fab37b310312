package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listener counts are complete when a span closes. The bus is
  * package-private to Spark, hence this object's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
