package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so its counters are complete before it reads them. The
  * listener bus is package-private, hence this package. */
object JobbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
