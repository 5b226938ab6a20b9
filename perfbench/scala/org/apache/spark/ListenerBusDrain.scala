package org.apache.spark

/** The listener bus is asynchronous: counters read right after an action
  * can miss its last task events. `waitUntilEmpty` is package-private, so
  * this one-line bridge lives in Spark's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
