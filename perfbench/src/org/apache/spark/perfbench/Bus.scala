package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the scheduler's listener bus, which is private to Spark. */
object Bus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
