package org.apache.spark.sql.graft

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CacheManager, CachedData, QueryExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.storage.RDDBlockId

/** Test-side access to things Spark keeps package-private. */
object SparkInternals {
  /** Blocks until every event posted so far has reached the listeners. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The query execution an in-process execution-end event reports. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)

  /** The session's CacheManager entries: plan-keyed cached relations. */
  def cachedPlans(s: SparkSession): Seq[CachedData] = {
    val f = classOf[CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(s.sharedState.cacheManager).asInstanceOf[IndexedSeq[CachedData]]
  }

  /** Where `rdd` was created: the first caller outside Spark. */
  def creationSite(rdd: RDD[_]): String = rdd.creationSite.shortForm

  /** How many of `rdd`'s partitions have a stored block. */
  def storedBlocks(rdd: RDD[_]): Int =
    rdd.partitions.indices.count(i => SparkEnv.get.blockManager.master
      .getLocations(RDDBlockId(rdd.id, i)).nonEmpty)

  /** Removes every stored block of `rdd` while leaving it persisted, as
    * losing the executors that held the blocks would.
    */
  def dropBlocks(rdd: RDD[_]): Unit =
    SparkEnv.get.blockManager.master.removeRdd(rdd.id, blocking = true)
}
