package org.apache.spark.opsbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is private to the spark package:
  * waits until every posted event has reached the listeners.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
