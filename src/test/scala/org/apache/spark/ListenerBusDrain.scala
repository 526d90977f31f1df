package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

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

  /** Jobs started while `f` runs, and its result. */
  def jobsDuring[A](sc: SparkContext)(f: => A): (Int, A) = {
    drain(sc)
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try { val out = f; drain(sc); (n.get, out) }
    finally sc.removeSparkListener(listener)
  }
}
