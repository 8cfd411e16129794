package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * Spark's listener bus is private to its package; specs that count
  * jobs with a listener need all events of the counted span first.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
