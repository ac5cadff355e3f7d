package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so task
  * metrics of finished jobs are counted before they are read. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
