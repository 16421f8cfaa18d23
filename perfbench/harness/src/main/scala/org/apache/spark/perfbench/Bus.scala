package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; this accessor lets a traced
  * run wait until every queued event has been delivered. */
object Bus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
