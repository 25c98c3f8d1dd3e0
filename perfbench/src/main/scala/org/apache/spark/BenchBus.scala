package org.apache.spark

/** Lives in Spark's package only to reach the listener bus: a traced
  * operation waits here until every event it caused has been delivered,
  * so no job is missed or attributed to the next operation. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
