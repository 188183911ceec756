package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counters read right after an action include all of that action's tasks.
  * The listener bus is package-private, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
