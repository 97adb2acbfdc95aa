package org.apache.spark

/** Listener events reach listeners asynchronously. A traced pass reads
  * its task and query-execution totals only after every event the pass
  * posted has been delivered; this waits for that. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
