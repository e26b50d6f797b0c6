package org.apache.spark

/** The one private Spark hook the harness needs: block until every
  * queued listener event has been delivered, so a traced op's
  * listeners see every job, stage, task and plan-phase event it caused
  * before they are detached. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
