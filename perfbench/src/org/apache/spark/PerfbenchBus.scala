package org.apache.spark

/** The one Spark-internal call the benchmark needs: listener callbacks
  * (job, stage, task and query-execution events) arrive asynchronously,
  * so the traced run drains the bus before it reads its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
