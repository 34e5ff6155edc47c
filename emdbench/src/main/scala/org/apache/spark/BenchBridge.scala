package org.apache.spark

/** The listener bus drain is `private[spark]`; the traced run needs it so
  * that an op's task metrics are all delivered before they are read. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
