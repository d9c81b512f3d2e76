package org.apache.spark

/** Lets a test wait until every listener event posted so far has been
  * delivered (QueryExecutionListener callbacks arrive asynchronously).
  * `listenerBus` is package-private to Spark. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
