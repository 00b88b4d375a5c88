package org.apache.spark

/** Test access to the package-private listener bus: blocks until every
  * event posted so far has reached the registered listeners. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
