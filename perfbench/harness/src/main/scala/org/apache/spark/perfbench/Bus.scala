package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus from the benchmark harness: listener
  * events are delivered asynchronously, so a phase's counters are read
  * only after every event posted during it has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
