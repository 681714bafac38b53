package org.apache.spark

/** Test hook: block until the listener bus has delivered every queued event,
  * so a QueryExecutionListener has seen every query that already ran. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
