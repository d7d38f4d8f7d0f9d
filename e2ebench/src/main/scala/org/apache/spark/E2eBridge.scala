package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private: the
  * benchmark must read an op's task counters only after every event of
  * that op has been delivered. */
object E2eBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
