package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private.
  * The tracer calls it so that no event is read or lost while still queued. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
