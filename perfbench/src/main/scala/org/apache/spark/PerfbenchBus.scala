package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced run reads complete counts before it writes them out. Lives in
  * Spark's package because `listenerBus` is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
