package org.apache.spark

/** Test hook: block until every event posted so far has reached its
  * listeners. Listener delivery (QueryExecutionListener included) is
  * asynchronous, and the bus's drain is package-private to Spark. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
