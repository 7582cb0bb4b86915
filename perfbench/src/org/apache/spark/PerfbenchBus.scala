package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so per-span task metrics are complete when a traced pass is read out.
  * Lives in this package because the bus is Spark-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
