package org.apache.spark

/** Listener callbacks (QueryExecutionListener, SparkListener) arrive
  * asynchronously; a test reading what a listener saw must first let
  * the bus deliver. `waitUntilEmpty` is package-private to Spark, hence
  * this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
