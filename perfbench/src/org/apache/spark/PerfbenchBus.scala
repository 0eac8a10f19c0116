package org.apache.spark

/** The listener bus is private to Spark; this lives in Spark's package so
  * the benchmark can wait for every queued event before it reads the
  * counters its listeners collected. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
