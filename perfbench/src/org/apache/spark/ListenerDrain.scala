package org.apache.spark

/** Waits until every event posted so far has reached every listener
  * (the listener bus is package-private to Spark). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
