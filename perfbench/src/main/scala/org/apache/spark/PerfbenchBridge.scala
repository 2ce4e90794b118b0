package org.apache.spark

/** The one scheduler internal the benchmark needs: waiting until every
  * listener event posted so far has been delivered, so counts read
  * right after an action are complete. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
