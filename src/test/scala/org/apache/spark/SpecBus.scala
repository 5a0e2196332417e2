package org.apache.spark

/** Blocks until every listener has seen every posted event, so a spec
  * reads a listener only after the last event of the work it measured.
  * The listener bus is private to Spark.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
