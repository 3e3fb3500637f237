package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before it
  * reads listener counters, so every event of a finished op is counted.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
