package org.apache.spark

/** The one scheduler hook the public listener API lacks: waiting until
  * the listener bus has delivered every event already posted, so the
  * benchmark reads complete per-op counters. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
