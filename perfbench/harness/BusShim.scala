package org.apache.spark

/** Waits until the Spark listener bus has delivered every queued event,
  * so stage metrics are attributed before the tracer reads them.
  * `LiveListenerBus` is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
