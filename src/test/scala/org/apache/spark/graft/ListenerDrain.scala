package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached the listeners, so
  * a count a test's listener took after an action is final. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
