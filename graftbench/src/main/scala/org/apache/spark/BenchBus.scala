package org.apache.spark

/** Waits until every queued listener event has been delivered, so counters
  * read after a timed block include all of its jobs. The listener bus is
  * package-private to Spark, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
