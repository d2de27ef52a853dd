package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

import graft.engine.GraftSession
import graft.SparkEntry

/** Per-stage / per-task metrics report — the analog of the reference's
  * task-metrics backhaul (`/root/reference/src/metrics/task_metrics_rewriter.rs:20-70`,
  * `tests/metrics_collection.rs`): the reference ships task metrics from
  * workers back to the coordinator over gRPC; in Spark the scheduler event
  * bus delivers the same numbers to the driver, and this listener rolls
  * them up per stage (tasks, records, shuffle bytes, spill, GC).
  */
object MetricsReport {

  case class StageReport(stageId: Int, name: String, numTasks: Int,
                         recordsRead: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, spillBytes: Long,
                         gcTimeMs: Long, runTimeMs: Long,
                         p50Ms: Long, p95Ms: Long, maxMs: Long)

  /** One task's metrics — the `PerTask` display format of the reference's
    * task-metrics rewriter (`src/metrics/task_metrics_rewriter.rs:20-38`,
    * `Aggregated | PerTask`): the row you need when ONE straggler task is
    * the problem and a stage rollup averages it away.
    */
  case class TaskReport(stageId: Int, taskId: Long, host: String,
                        durationMs: Long, recordsRead: Long,
                        shuffleReadBytes: Long, shuffleWriteBytes: Long,
                        spillBytes: Long)

  /** Bounded per-stage task-duration tracker — the reference ships
    * latency percentiles per metric via DDSketch (`Cargo.toml:41`,
    * `worker.proto:218-366` P50/P75/P95/P99 types) precisely so the
    * coordinator's memory doesn't grow with task count; a reservoir sample
    * plus exact max gives the same bounded-memory contract here.
    */
  private final class DurationSketch(cap: Int = 1024, seed: Long = 42L) {
    private val sample = new Array[Long](cap)
    private val rnd = new java.util.Random(seed)
    private var n = 0L
    private var max = 0L
    def add(ms: Long): Unit = synchronized {
      if (ms > max) max = ms
      if (n < cap) sample(n.toInt) = ms
      else {
        val j = (rnd.nextDouble() * (n + 1)).toLong
        if (j < cap) sample(j.toInt) = ms
      }
      n += 1
    }
    def quantile(q: Double): Long = synchronized {
      val len = math.min(n, cap.toLong).toInt
      if (len == 0) 0L
      else {
        val s = sample.take(len).sorted
        s(math.min(len - 1, (q * len).toInt))
      }
    }
    def maxMs: Long = synchronized(max)
  }

  /** Run the DataFrame to completion, collecting a per-stage rollup of task
    * metrics observed during its execution.
    */
  def collect(df: DataFrame): Seq[StageReport] =
    collectWithTasks(df, maxTasksPerStage = 0)._1

  /** Rows AND stage rollup from one execution — for callers that need the
    * result for a differential check alongside the metrics (SpillProof:
    * spill bytes > 0 and results identical to the unstarved run). */
  def collectWithResult(df: DataFrame)
      : (Array[org.apache.spark.sql.Row], Seq[StageReport]) = {
    var rows: Array[org.apache.spark.sql.Row] = Array.empty
    val (stages, _) = instrumented(df, 0) { rows = df.collect() }
    (rows, stages)
  }

  /** [[collect]] plus per-task rows. Driver memory stays bounded at scale:
    * at most `maxTasksPerStage` tasks are retained PER STAGE, evicting the
    * fastest first — so what survives on a million-task query is exactly
    * the straggler tail the PerTask format exists to expose (the stage
    * rollup + percentiles above already summarize the rest). 0 retains no
    * per-task rows.
    */
  def collectWithTasks(df: DataFrame, maxTasksPerStage: Int = 128)
      : (Seq[StageReport], Seq[TaskReport]) =
    instrumented(df, maxTasksPerStage) { df.collect(); () }

  private def instrumented(df: DataFrame, maxTasksPerStage: Int)(body: => Unit)
      : (Seq[StageReport], Seq[TaskReport]) = {
    val spark = df.sparkSession
    // TrieMap + per-entry synchronization: the listener-bus thread mutates
    // while the settle loop below reads concurrently; a plain mutable.Map
    // can throw or return torn sums mid-resize.
    val perStage = scala.collection.concurrent.TrieMap.empty[Int, Array[Long]]
    val durations = scala.collection.concurrent.TrieMap.empty[Int, DurationSketch]
    val stageNames = scala.collection.concurrent.TrieMap.empty[Int, (String, Int)]
    // Per-stage bounded min-heap on duration: keeps the SLOWEST
    // maxTasksPerStage tasks (stragglers), evicts the fastest.
    val perTask = scala.collection.concurrent.TrieMap
      .empty[Int, mutable.PriorityQueue[TaskReport]]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          val acc = perStage.getOrElseUpdate(t.stageId, new Array[Long](7))
          acc.synchronized {
            acc(0) += 1
            acc(1) += m.inputMetrics.recordsRead
            acc(2) += m.shuffleReadMetrics.totalBytesRead
            acc(3) += m.shuffleWriteMetrics.bytesWritten
            acc(4) += m.memoryBytesSpilled + m.diskBytesSpilled
            acc(5) += m.jvmGCTime
            acc(6) += m.executorRunTime
          }
          durations.getOrElseUpdate(t.stageId, new DurationSketch())
            .add(m.executorRunTime)
          if (maxTasksPerStage > 0) {
            val heap = perTask.getOrElseUpdate(t.stageId,
              mutable.PriorityQueue.empty[TaskReport](
                Ordering.by[TaskReport, Long](_.durationMs).reverse))
            heap.synchronized {
              heap.enqueue(TaskReport(t.stageId, t.taskInfo.taskId,
                t.taskInfo.host, m.executorRunTime,
                m.inputMetrics.recordsRead,
                m.shuffleReadMetrics.totalBytesRead,
                m.shuffleWriteMetrics.bytesWritten,
                m.memoryBytesSpilled + m.diskBytesSpilled))
              while (heap.size > maxTasksPerStage) heap.dequeue()
            }
          }
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stageNames(s.stageInfo.stageId) =
          (s.stageInfo.name.takeWhile(_ != '\n'), s.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // The listener bus is async; give queued task-end events a moment to
      // drain (the private waitUntilEmpty isn't accessible from here).
      // Settled = two consecutive identical snapshots — an empty snapshot
      // also settles (a task-less plan must not busy-wait the deadline).
      def snapshot(): Long =
        perStage.values.map(a => a.synchronized(a.sum)).sum
      val deadline = System.nanoTime() + 10e9.toLong
      var stable = 0
      while (stable < 2 && System.nanoTime() < deadline) {
        val before = snapshot()
        Thread.sleep(100)
        if (snapshot() == before) stable += 1 else stable = 0
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    val stages = perStage.toSeq.sortBy(_._1).map { case (id, a) =>
      val (name, _) = stageNames.getOrElse(id, ("?", 0))
      val c = a.synchronized(a.clone())
      val d = durations.get(id)
      StageReport(id, name, c(0).toInt, c(1), c(2), c(3), c(4), c(5), c(6),
        d.map(_.quantile(0.5)).getOrElse(0L),
        d.map(_.quantile(0.95)).getOrElse(0L),
        d.map(_.maxMs).getOrElse(0L))
    }
    val tasks = perTask.toSeq.sortBy(_._1).flatMap { case (_, heap) =>
      heap.synchronized(heap.toSeq).sortBy(t => (-t.durationMs, t.taskId))
    }
    (stages, tasks)
  }

  def renderPerTask(tasks: Seq[TaskReport]): String = {
    val header = f"${"stage"}%-6s ${"task"}%6s ${"durMs"}%7s " +
      f"${"records"}%10s ${"shufRead"}%10s ${"shufWrite"}%10s " +
      f"${"spill"}%8s  host"
    (header +: tasks.map { t =>
      f"${t.stageId}%-6d ${t.taskId}%6d ${t.durationMs}%7d " +
        f"${t.recordsRead}%10d ${t.shuffleReadBytes}%10d " +
        f"${t.shuffleWriteBytes}%10d ${t.spillBytes}%8d  ${t.host}"
    }).mkString("\n")
  }

  def render(reports: Seq[StageReport]): String = {
    val header = f"${"stage"}%-6s ${"tasks"}%5s ${"records"}%10s " +
      f"${"shufRead"}%10s ${"shufWrite"}%10s ${"spill"}%8s ${"gcMs"}%6s " +
      f"${"runMs"}%7s ${"p50"}%5s ${"p95"}%5s ${"max"}%5s  name"
    (header +: reports.map { r =>
      f"${r.stageId}%-6d ${r.numTasks}%5d ${r.recordsRead}%10d " +
        f"${r.shuffleReadBytes}%10d ${r.shuffleWriteBytes}%10d " +
        f"${r.spillBytes}%8d ${r.gcTimeMs}%6d ${r.runTimeMs}%7d " +
        f"${r.p50Ms}%5d ${r.p95Ms}%5d ${r.maxMs}%5d  ${r.name}"
    }).mkString("\n")
  }

  /** `runMain graft.tools.MetricsReport [query] [sfDir] [aggregated|per-task]`
    * — the reference's two display formats
    * (`task_metrics_rewriter.rs:20-38`); per-task prints the rollup AND
    * the straggler-ordered task rows.
    */
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q03_shipping_priority")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val format = if (args.length > 2) args(2) else "aggregated"
    val spark = GraftSession.forMain("graft-metrics")
    println(s"=== TASK METRICS $name @ $sfDir ($format) ===")
    format match {
      case "per-task" =>
        val (stages, tasks) =
          collectWithTasks(SparkEntry.queries(name)(spark, sfDir))
        println(render(stages))
        println()
        println(renderPerTask(tasks))
      case _ =>
        println(render(collect(SparkEntry.queries(name)(spark, sfDir))))
    }
    spark.stop()
  }
}
