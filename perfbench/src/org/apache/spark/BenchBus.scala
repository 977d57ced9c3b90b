package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listener totals are complete when a timed window closes. The
  * bus is package-private, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
