package org.apache.spark.etlbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so a
  * recorder read right after a pass sees all of that pass's tasks.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
