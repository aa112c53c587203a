package org.apache.spark

/** Accessor for the private[spark] listener bus: job-start events reach
  * the status tracker asynchronously, so a "this ran no job" check first
  * waits until every event posted so far has been delivered. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
