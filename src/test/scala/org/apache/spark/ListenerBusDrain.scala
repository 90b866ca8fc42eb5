package org.apache.spark

/** Test access to the listener bus drain, which Spark keeps
  * package-private: a spec that counts jobs through a SparkListener must
  * see every event of the work it measured before it reads the count. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
