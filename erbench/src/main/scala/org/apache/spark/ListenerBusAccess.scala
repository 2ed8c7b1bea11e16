package org.apache.spark

/** The listener bus is package-private; the benchmark needs to know when
  * the events of a finished span have all been delivered.
  */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
