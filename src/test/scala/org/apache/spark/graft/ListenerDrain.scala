package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached its listeners, so a
  * spec can read listener-derived counts right after the action that
  * posted them (the listener bus is asynchronous and its drain is
  * package-private to Spark).
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
