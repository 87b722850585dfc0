package org.apache.spark

/** Access to the listener bus, whose drain is private to Spark: the
  * traced run waits for it after each op so that every job, task and
  * query event of the op has been counted before the next op starts.
  */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
