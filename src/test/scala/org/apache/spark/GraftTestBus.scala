package org.apache.spark

/** The one test hook that needs Spark-internal access: block until the
  * listener bus has delivered every event posted so far, so a listener's
  * job counts are complete when a spec reads them. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
