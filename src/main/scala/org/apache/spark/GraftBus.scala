package org.apache.spark

/** The listener bus is private to Spark; this shim lives in Spark's
  * package so a listener's counters can be read only after every queued
  * event (task ends, stage completions) has reached it. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
