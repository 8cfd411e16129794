package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  * The listener bus is private to Spark; the trace needs all job and
  * task events of the timed phase before it attributes them to ops.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
