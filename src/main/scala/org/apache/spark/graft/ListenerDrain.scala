package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached the listeners, so
  * a count a listener took after an action is final. (The listener bus
  * is `private[spark]`, hence this package.) */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
