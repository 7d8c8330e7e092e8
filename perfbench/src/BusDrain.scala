package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * a pass's jobs, stages, tasks, query executions and trigger progress are
  * all recorded before the pass's metrics are computed. The listener bus
  * is package-private to Spark; this file only forwards to it.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
