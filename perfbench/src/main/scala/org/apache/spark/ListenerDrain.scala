package org.apache.spark

/** The listener bus is private to Spark; the benchmark must wait for it to
  * deliver every task-end event before it reads its counters.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
