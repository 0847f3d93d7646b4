package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; the traced run drains
  * it so every task of the measured window has been counted. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
