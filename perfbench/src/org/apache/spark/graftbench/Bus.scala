package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; the run's counters
  * are read only after every posted event has been delivered. Lives in
  * Spark's package because the bus accessor is package-private. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
