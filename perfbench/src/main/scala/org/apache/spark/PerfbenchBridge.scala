package org.apache.spark

/** The one private-to-Spark call the benchmark needs: wait until the
  * listener bus has delivered every posted event, so a traced window's
  * metrics are complete before they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
