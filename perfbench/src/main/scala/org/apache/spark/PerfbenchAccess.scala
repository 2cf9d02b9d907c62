package org.apache.spark

/** The one package-private hook the benchmark needs: wait until the
  * listener bus has delivered every posted event, so a listener's totals
  * are complete when they are read. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
