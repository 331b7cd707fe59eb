package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run must read its counters only after every event of a pass
  * has been delivered, not after a guessed sleep. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
