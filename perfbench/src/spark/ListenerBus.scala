package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, whose queue drain is Spark-private. */
object ListenerBus {
  /** Blocks until every event posted so far reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
