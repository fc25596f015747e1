package org.apache.spark

/** Blocks until every event already posted to the SparkContext's listener
  * bus has been delivered (`waitUntilEmpty` is `private[spark]`). Specs
  * that count Spark jobs from a listener drain before and after the
  * measured body, so no earlier job leaks in and none of the body's is
  * still in flight when they read the count. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
