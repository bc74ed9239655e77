package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so
  * far. `waitUntilEmpty` is package-private to Spark, hence this file's
  * package; the harness calls it before closing an op's counters. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
