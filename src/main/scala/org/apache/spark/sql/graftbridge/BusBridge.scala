package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** The listener-bus drain for [[graft.Trace]], reached from this
  * org.apache.spark subpackage for the `private[spark]` bus: once it
  * returns, every event posted before the call has been delivered to
  * every listener, so a recorder read right after it is complete.
  * Nothing else should call this directly. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
