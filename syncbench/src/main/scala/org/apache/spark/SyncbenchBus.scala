package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * queued event, so listener counts are complete when they are read.
  */
object SyncbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
