package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so a
  * spec can wait until every event of an action has been delivered
  * before it reads what its listener counted. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
