package org.apache.spark

/** The listener bus is package-private to Spark; the benchmark waits on it
  * so every job, stage and task event of a traced run has been delivered
  * before counters are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
