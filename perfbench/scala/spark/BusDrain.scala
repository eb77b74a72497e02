package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listeners have seen all jobs, tasks and query executions of
  * the op that just finished before its counters are read. The bus handle
  * is `private[spark]`, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
