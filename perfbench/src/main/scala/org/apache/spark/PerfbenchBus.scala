package org.apache.spark

/** Spark keeps the listener-bus drain package-private. The benchmark reads
  * its listener's counts for a call only after every event of that call has
  * been delivered, so it needs the drain. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
