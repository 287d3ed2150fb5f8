package org.apache.spark

/** Drains Spark's listener bus so the traced run reads complete counters.
  * The bus is `private[spark]`, hence this one-line bridge in Spark's
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
