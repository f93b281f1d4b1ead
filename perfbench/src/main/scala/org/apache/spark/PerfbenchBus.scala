package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the benchmark's collectors have seen all jobs, tasks and query
  * executions before their totals are read. (The bus is `private[spark]`.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
