package org.apache.spark

/** The one Spark-internal call the harness needs: block until the
  * listener bus has delivered every event posted so far, so counters are
  * read after their events, never before.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
