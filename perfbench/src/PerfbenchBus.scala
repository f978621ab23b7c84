package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark's
  * job accounting needs it to read complete per-group totals.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
