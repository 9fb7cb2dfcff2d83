package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * traced run's listeners have seen all jobs before metrics are computed.
  * Lives in Spark's package because the listener bus is Spark-private.
  */
object PerfbenchDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
