package org.apache.spark

/** The listener bus's drain is package-private to Spark; this forwarder
  * lets the benchmark wait for pending listener events before reading the
  * Spark costs it attributes to each op. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
