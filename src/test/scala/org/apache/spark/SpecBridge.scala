package org.apache.spark

import org.apache.hadoop.conf.Configuration

/** Spark internals a spec needs that are package-private to Spark. */
object SpecBridge {
  /** Listener events are delivered asynchronously; a spec that counts
    * them must see every event of its op first. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The Hadoop conf a SparkContext started with `conf` would hold. */
  def hadoopConf(conf: SparkConf): Configuration =
    deploy.SparkHadoopUtil.get.newConfiguration(conf)
}
