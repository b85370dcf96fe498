package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so that no job, stage or plan event is still queued when the
  * spans are written out.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
