package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the scheduler's listener bus, which Spark keeps package-private. */
object Bus {

  /** Block until every event posted so far has reached every listener, so
    * the numbers read after an execution include all of its events. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
