package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * counters read right after a traced call include all of its tasks.
  * Lives in Spark's package because the listener bus is package-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
