package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so that
  * per-round counters are complete when a round ends. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
