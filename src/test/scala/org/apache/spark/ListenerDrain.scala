package org.apache.spark

/** Drains Spark's asynchronous listener bus, so a spec counting jobs
  * with a SparkListener sees every event of the actions it ran.
  * `waitUntilEmpty` is package-private.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
