package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has been
  * delivered, so the traced run's event buffers are complete before they
  * are read. `listenerBus` is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
