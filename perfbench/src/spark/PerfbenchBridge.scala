package org.apache.spark

/** Access to the listener bus, which is private to Spark: the trace reads
  * its counters only after every posted event has been delivered. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
