package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it after
  * every operation so that all of that operation's job, stage, task
  * and streaming-progress events have been delivered before they are
  * attributed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
