package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The SparkContext's event bus, which Spark keeps package-private. */
object ListenerBus {
  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
