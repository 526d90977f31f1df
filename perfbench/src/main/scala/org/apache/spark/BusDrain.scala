package org.apache.spark

/** Waits until every event posted to the listener bus so far has been
  * delivered, so a listener's totals are complete before they are read.
  * Lives in Spark's package because the bus is `private[spark]`.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
