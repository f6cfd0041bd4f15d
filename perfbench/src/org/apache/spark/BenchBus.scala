package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so the
  * trace counters of a finished pass are complete before they are read.
  * Lives in Spark's package because `listenerBus` is package-private.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
