package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{SparkSession, classic}

/** A session over `sc` from the context alone: it carries only the
  * extensions the context's conf or a service provider names, none a
  * session builder added, and it becomes neither the active nor the
  * default session. (The constructor is `private[sql]`, hence this
  * package.) */
object BareSession {
  def apply(sc: SparkContext): SparkSession = {
    val s = new classic.SparkSession(sc)
    // its own shared state adds a second SQL status listener to the bus;
    // later measurements should see the bus as the shared session left it
    s.sharedState.statusStore.listener.foreach(sc.removeSparkListener)
    s
  }
}
