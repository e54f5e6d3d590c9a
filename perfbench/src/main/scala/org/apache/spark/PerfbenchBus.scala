package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * per-query listener counts are read only after every event of the
  * query has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
