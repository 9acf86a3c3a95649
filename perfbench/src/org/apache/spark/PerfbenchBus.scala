package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run must see every task event before it attributes them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
