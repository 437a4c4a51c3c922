package org.apache.spark

/** Waits until every queued listener event has been delivered, so span
  * attribution is complete before it is read. The listener bus is private
  * to Spark, hence this package. */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
