package org.apache.spark

/** The listener bus is private to Spark; this shim lives in Spark's
  * package so the benchmark can wait until every queued event (task ends,
  * stage completions, streaming progress) has reached its listeners
  * before it reads their counters. */
object LayerbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
