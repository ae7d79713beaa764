package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced pass's records are complete before they are read. The wait is
  * package-private in Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
