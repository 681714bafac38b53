package org.apache.spark

/** The one package-private hook the benchmark needs: block until the
  * listener bus has delivered every queued event, so listener totals are
  * complete when they are read. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
