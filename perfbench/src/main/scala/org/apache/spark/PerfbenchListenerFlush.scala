package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * counters read after an operation include that operation's tasks. */
object PerfbenchListenerFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
