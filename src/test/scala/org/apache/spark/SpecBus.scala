package org.apache.spark

/** The listener bus's drain is package-private to Spark; specs that count
  * tasks need it so that no job or task event is still queued when they
  * read their listener.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
