package org.apache.spark

/** Test access to Spark's package-private listener bus: a spec that
  * counts events with a SparkListener waits for every event of its own
  * actions to be delivered before it reads its counters. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
