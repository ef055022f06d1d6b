package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark
  * needs it so that per-op stage and task events have all arrived before
  * they are attributed to the op that caused them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
