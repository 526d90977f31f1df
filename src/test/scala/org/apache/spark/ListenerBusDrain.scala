package org.apache.spark

/** Test access to the private listener bus: blocks until every event
  * posted so far has reached every listener, so a spec can read its
  * listener's counts right after an action returns.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
