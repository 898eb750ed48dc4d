package org.apache.spark

/** The listener bus is private to Spark; the trace drains it between ops
  * so that every event of an op is counted before the op's figures are
  * read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
