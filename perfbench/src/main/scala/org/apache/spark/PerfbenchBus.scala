package org.apache.spark

/** Listener events are delivered asynchronously; the traced run must see
  * every event of its ops before it writes the span file. The bus's drain
  * call is package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
