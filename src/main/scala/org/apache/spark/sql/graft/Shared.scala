package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** The one way to share an intermediate between several consumers.
  *
  * `Shared(df)` is a lazy `localCheckpoint` that keeps lineage. Like
  * `Dataset.localCheckpoint(false)` it posts one SQL execution for `df`'s
  * plan (so listeners and the plan fingerprints still see the upstream),
  * stores the executed plan's rows at RDD level with MEMORY_AND_DISK (the
  * level a lazy local checkpoint uses) and returns a `LogicalRDD` leaf
  * over them. Unlike it, the lineage is not truncated.
  *
  *  - Computed once per instance: every consumer of the returned frame
  *    reads the same RDD, whose partitions are computed by the first
  *    action that needs them and stored as they go.
  *  - Never plan-keyed: the CacheManager is not touched, so a frame with
  *    an equal plan (a later run of the same query) recomputes rather than
  *    reading this instance's rows.
  *  - A lost block is recomputed from lineage instead of failing the job.
  *    The price: the shuffle files under the shared rows live as long as
  *    the frame (for a connected-components round, as long as the final
  *    labels frame).
  *  - Blocks are freed by the ContextCleaner once the frame is
  *    unreachable, or earlier by [[release]].
  */
object Shared {
  def apply(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[_]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("shared")) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute().map(_.copy())
        .persist(StorageLevel.MEMORY_AND_DISK)
      ClassicDataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
    }
  }

  /** Frees a [[Shared]] frame's blocks now rather than when it becomes
    * unreachable: unpersists the stored RDD under the frame's `LogicalRDD`
    * leaf. For a frame whose last consumer has run while the frame itself
    * stays referenced (a loop's previous round, a trainer's sample, a
    * sink's input).
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical.foreach {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ =>
  }
}
