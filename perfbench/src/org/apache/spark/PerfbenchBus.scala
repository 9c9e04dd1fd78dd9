package org.apache.spark

/** The one benchmark hook that needs Spark-internal access: block until
  * the listener bus has delivered every event posted so far, so the
  * traced run's job/stage/task counters are complete when it reports. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
