package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private: the
  * benchmark's tracer drains it after each operation so every event of
  * that operation has been delivered before its counters are read. */
object FsbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
