package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is private to the spark package:
  * waits until every posted event has reached the listeners, so the
  * status tracker reflects every job that has ended.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
