package org.apache.spark

/** Access to the listener bus, which is private to Spark: a spec that
  * counts jobs or reads plans through listeners waits until every posted
  * event has been delivered. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
