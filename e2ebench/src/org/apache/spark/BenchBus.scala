package org.apache.spark

/** Blocks until every listener has seen every posted event, so a traced
  * pass is read only after its last task-end and execution-end events
  * arrived. The listener bus is private to Spark; this is its one use.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
