package org.apache.spark

/** The listener bus is package-private; a test that reads a listener's
  * counts needs every event of its jobs delivered first.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
