package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so a test listener's counts are complete before they are
  * read. The bus is private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
