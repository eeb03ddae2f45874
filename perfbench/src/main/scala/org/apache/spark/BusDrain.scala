package org.apache.spark

/** Listener callbacks arrive asynchronously; counters read right after
  * an operation would miss its tail. `waitUntilEmpty` is package-private
  * to Spark, hence this file's package. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
