package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Bridge to Spark's `private[spark]` listener bus for [[graft.Meter]]:
  * [[drain]] returns once every event posted before the call has been
  * delivered to every listener, the streaming listeners included. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
