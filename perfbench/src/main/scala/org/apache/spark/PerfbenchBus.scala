package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run must see every task and query event before it folds
  * the spans into per-layer metrics. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
