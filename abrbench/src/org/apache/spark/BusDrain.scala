package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's records are complete when the caller reads them. The bus
  * is package-private to Spark, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
