package org.apache.spark

/** Listener events arrive asynchronously; a spec counting them must drain
  * the bus first, and the drain call is package-private to Spark. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
