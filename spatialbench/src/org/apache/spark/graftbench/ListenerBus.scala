package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is package-private: a traced
  * span waits for the bus to deliver every event of its own actions
  * before it reads the listener counters. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
