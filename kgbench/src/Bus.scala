package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; counters read right after a job would
  * miss its last events. `waitUntilEmpty` is package-private to Spark.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
