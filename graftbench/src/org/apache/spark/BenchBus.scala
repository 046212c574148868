package org.apache.spark

/** Drains Spark's asynchronous listener bus, so that every job, task and
  * query-execution event of the traced operations has been delivered
  * before the trace is summarised. `waitUntilEmpty` is package-private.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
