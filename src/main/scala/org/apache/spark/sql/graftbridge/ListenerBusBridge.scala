package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Exact listener-bus drain for tools that read listener counters: it
  * returns once every event posted so far has reached every listener,
  * where a fixed sleep only hopes it has. The bus is private[spark]. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
