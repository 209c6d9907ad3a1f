package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in Spark's package only to reach the listener bus: counters read
  * after `drain` include every event of the actions that came before. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
