package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so each key's events are attributed to that key. The
  * listener bus is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
