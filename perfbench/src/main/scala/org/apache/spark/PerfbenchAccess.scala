package org.apache.spark

/** The one package-private Spark call the benchmark needs: waiting until the
  * listener bus has delivered every queued event, so per-span counters are
  * complete before a listener is removed.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
