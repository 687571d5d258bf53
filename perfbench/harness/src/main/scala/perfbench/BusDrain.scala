package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced pass reads complete job and phase records. The bus is
  * package-private to Spark, hence this file's package. */
object PerfbenchBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
