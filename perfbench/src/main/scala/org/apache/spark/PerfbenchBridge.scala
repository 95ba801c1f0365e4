package org.apache.spark

/** Listener-bus drain for the traced run: after a span ends, every event
  * its jobs and query executions posted has been delivered, so the
  * listeners can attribute them to that span exactly. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
