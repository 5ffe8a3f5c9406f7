package org.apache.spark

/** Waits until every event already posted to a SparkContext's
 *  listener bus has been delivered. The bus is package-private, so the
 *  benchmark reaches it from here; it needs this before it reads what
 *  its own listeners recorded. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
