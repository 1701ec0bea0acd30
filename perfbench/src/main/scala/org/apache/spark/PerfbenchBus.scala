package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event. The
  * bus is `private[spark]`, hence this one-method bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
