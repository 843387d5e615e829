package org.apache.spark

/** Test access to one Spark-internal call: block until the listener bus
  * has delivered every event posted so far, so a listener's (or the
  * status tracker's) view is read after its events, never before.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
