package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so the
  * trace recorder has seen all jobs, tasks and query executions of a pass
  * before the pass is closed. The bus is private to Spark, hence the
  * package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
