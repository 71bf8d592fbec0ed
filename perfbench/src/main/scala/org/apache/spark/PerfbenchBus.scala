package org.apache.spark

/** The one `private[spark]` member the benchmark needs: waiting for the
  * listener bus to deliver every queued event, so the recorded jobs,
  * stages and query phases are complete before the record is written.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
