package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's totals are complete when a traced span is read back. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
