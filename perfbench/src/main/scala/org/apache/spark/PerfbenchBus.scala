package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced op's job, task and query-execution events are all in before its
  * record is closed. The bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
