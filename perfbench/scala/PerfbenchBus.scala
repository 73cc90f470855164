package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the benchmark reads listener-side counters only after they are final.
  * `listenerBus` is private to the spark package, hence this file's. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
