package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** The benchmark's two uses of Spark's (package-private) listener bus:
  * posting a marker event that listeners see in order with the job, task
  * and block events around it, and waiting until every queued event has
  * been delivered before the traced counters are read. */
object PerfBenchBus {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit =
    sc.listenerBus.post(event)

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
