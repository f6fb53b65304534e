package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so listener-derived numbers are complete before they are
  * read. The bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
