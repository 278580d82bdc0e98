package org.apache.spark

/** Test-scope access to the listener bus drain: a count read from a
  * listener is exact only once every event posted so far has been
  * delivered, and `waitUntilEmpty` is package-private to Spark. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
