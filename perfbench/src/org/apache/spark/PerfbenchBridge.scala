package org.apache.spark

/** Access to the `private[spark]` listener-bus drain, so the benchmark's
  * tracer can attribute asynchronous listener events to the span that
  * caused them. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
