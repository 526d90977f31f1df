package org.apache.spark

import org.apache.spark.scheduler.SparkListenerJobStart

/** Test access to the private listener bus: blocks until every event
  * posted so far has reached every listener, so a spec can read its
  * listener's counts right after an action returns.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** True for a job whose final stage writes shuffle output: the
    * map-stage jobs AQE submits to materialize an exchange.
    */
  def isMapStageJob(j: SparkListenerJobStart): Boolean =
    j.stageInfos.maxBy(_.stageId).shuffleDepId.isDefined
}
