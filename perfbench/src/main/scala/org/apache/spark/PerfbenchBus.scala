package org.apache.spark

/** Lives in Spark's package only to reach the listener bus, whose drain is
  * `private[spark]`: task metrics arrive asynchronously, so a span's totals
  * are read only after every event queued so far has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
