package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark reads complete counters after a traced pass. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
