package org.apache.spark

/** Access shim for `LiveListenerBus.waitUntilEmpty`, which is
  * `private[spark]`. Listener delivery is asynchronous, so the benchmark
  * drains the bus before it reads a listener's counters; otherwise events
  * of one pass would leak into the next. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
