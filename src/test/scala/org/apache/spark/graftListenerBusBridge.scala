package org.apache.spark

/** Test-only bridge into Spark's `private[spark]` listener bus: listener
  * events are delivered asynchronously, so a spec that counts them must
  * wait until every event posted so far has been delivered.
  */
object graftListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
