package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * that counters read at an op boundary include all of the op's events.
  * The listener bus is `private[spark]`, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
