package org.apache.spark

/** The listener bus is asynchronous; a span's jobs are only complete in
  * the tracer once the bus has delivered every event posted so far.
  * `waitUntilEmpty` is package-private, hence this bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
