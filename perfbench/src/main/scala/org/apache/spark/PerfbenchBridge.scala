package org.apache.spark

/** The one Spark-internal call the benchmark needs: listener events
  * arrive asynchronously, so the traced run drains the bus before it
  * reads the counts its listener collected. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
