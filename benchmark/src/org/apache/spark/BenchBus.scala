package org.apache.spark

/** The listener bus is private to Spark; the traced run must drain it
  * before it attributes events to ops, or the last op's tail is lost. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
