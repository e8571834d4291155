package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listener has seen all tasks of the jobs that just ended.
  * `waitUntilEmpty` is package-private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
