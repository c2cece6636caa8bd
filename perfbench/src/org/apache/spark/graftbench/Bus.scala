package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; counters read from listeners are
  * only complete once every posted event has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
