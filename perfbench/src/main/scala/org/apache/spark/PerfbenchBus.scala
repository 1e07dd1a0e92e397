package org.apache.spark

/** The listener bus's own drain (`waitUntilEmpty` is private[spark]): the
  * benchmark reads its listener's counters only after every event posted
  * so far has been delivered, instead of sleeping and hoping. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
