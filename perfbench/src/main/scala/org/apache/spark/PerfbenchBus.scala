package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced window opens and closes on a settled event stream. The bus is
  * private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
