package org.apache.spark

/** Access to the `private[spark]` listener-bus drain, so the traced run
  * can attribute a query's asynchronous listener events before the next
  * query starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
