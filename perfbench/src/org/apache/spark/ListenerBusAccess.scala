package org.apache.spark

/** The listener bus drain is private to Spark; the benchmark needs it
  * so stage metrics are complete before a span's numbers are read. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
