package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so that a layer's counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
