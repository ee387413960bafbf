package org.apache.spark.flowbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the benchmark drains the bus
  * before it reads its listener's counts. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
