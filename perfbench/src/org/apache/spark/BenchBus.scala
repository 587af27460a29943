package org.apache.spark

/** Waits until every event posted so far has reached every SparkListener.
  * Listener delivery is asynchronous, so span counters are read only after
  * this returns. Lives in this package because the bus is private[spark].
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
