package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec's `QueryExecutionListener` has seen each action it ran. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
