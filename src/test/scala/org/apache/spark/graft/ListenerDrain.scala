package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener-bus drain, which Spark keeps package-private: a count
  * read after `drain` has seen every event posted before the call. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
