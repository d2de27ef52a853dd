package graft.tools

import scala.collection.mutable

import org.apache.spark.{FetchFailed, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBus

import graft.SparkEntry
import graft.engine.GraftSession

/** What one query did, recorded by a listener attached before its DataFrame
  * is built — the analog of the reference's task-metrics backhaul to one
  * coordinator-side collector, which backs its distributed EXPLAIN ANALYZE
  * (`src/metrics/task_metrics_rewriter.rs:20-70`, `src/explain_analyze.rs`).
  * In Spark the scheduler event bus delivers the same numbers to the driver.
  *
  * Wall time is the build (the eager jobs a query runs while its frame is
  * constructed: CC rounds, `Shared` materializations, sinks) plus the
  * action. Span is the wall-clock lower bound of a perfectly scheduled run
  * of the observed stages ([[QueryProfile.span]]); orchestration, wall
  * minus span, is the time the driver and the scheduler spent around them.
  */
final case class QueryProfile(
    wallSec: Double, buildSec: Double, jobs: Int, buildJobs: Int,
    stages: Seq[QueryProfile.StageReport], tasks: Seq[QueryProfile.TaskReport],
    failedTasks: Long, fetchFailed: Long, slots: Int) {
  def numTasks: Int = stages.map(_.numTasks).sum
  def taskSec: Double = stages.map(_.runTimeMs).sum / 1000.0
  def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
  def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
  def spillBytes: Long = stages.map(_.spillBytes).sum
  def gcMs: Long = stages.map(_.gcTimeMs).sum
  def spanSec: Double = QueryProfile.span(stages, slots)
  def orchestrationSec: Double = wallSec - spanSec

  /** The layer split on one line. */
  def layers: String =
    f"wall $wallSec%.3f s (build $buildSec%.3f s, $buildJobs of $jobs jobs) = " +
      f"span $spanSec%.3f s + orchestration $orchestrationSec%.3f s; " +
      f"${stages.size} stages, $numTasks tasks $taskSec%.3f s, shuffle " +
      f"$shuffleReadBytes B read / $shuffleWriteBytes B written, spill " +
      f"$spillBytes B, gc $gcMs ms, $failedTasks failed tasks ($fetchFailed fetch)"
}

object QueryProfile {

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

  /** Σ over stages of max(slowest task, stage task time / slots), in
    * seconds: no stage ends before its slowest task, nor before its task
    * time spread over every slot. Summing per-stage task time / min(tasks,
    * slots) instead reads one long task among short ones as if it were
    * split across the slots.
    */
  def span(stages: Seq[StageReport], slots: Int): Double =
    stages.map(s => math.max(s.maxMs.toDouble, s.runTimeMs.toDouble / slots))
      .sum / 1000.0

  /** Builds a query with `build`, runs `act` on it and records both. The
    * listener is attached before `build` and removed once the bus has
    * delivered every event of the run, so the record is complete when this
    * returns. Draining before `build` keeps an earlier run's queued events
    * out of the record, and draining after it tells the build's jobs from
    * the action's; the drains are not timed. At most `tasksPerStage` task
    * rows are kept per stage, the slowest; 0 keeps none.
    */
  def of[A, T](spark: SparkSession, tasksPerStage: Int = 0)(build: => A)(
      act: A => T): (T, QueryProfile) = {
    val sc = spark.sparkContext
    val rec = new Recorder(tasksPerStage)
    ListenerBus.drain(sc)
    sc.addSparkListener(rec)
    try {
      val t0 = System.nanoTime()
      val built = build
      val buildNs = System.nanoTime() - t0
      ListenerBus.drain(sc)
      val buildJobs = rec.jobs
      val t1 = System.nanoTime()
      val out = act(built)
      val actNs = System.nanoTime() - t1
      ListenerBus.drain(sc)
      (out, QueryProfile((buildNs + actNs) / 1e9, buildNs / 1e9, rec.jobs,
        buildJobs, rec.stageReports, rec.taskReports, rec.failed,
        rec.fetchFailed, sc.defaultParallelism))
    } finally sc.removeSparkListener(rec)
  }

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
    var max = 0L
    def add(ms: Long): Unit = {
      if (ms > max) max = ms
      if (n < cap) sample(n.toInt) = ms
      else {
        val j = (rnd.nextDouble() * (n + 1)).toLong
        if (j < cap) sample(j.toInt) = ms
      }
      n += 1
    }
    def quantile(q: Double): Long = {
      val len = math.min(n, cap.toLong).toInt
      if (len == 0) 0L
      else {
        val s = sample.take(len).sorted
        s(math.min(len - 1, (q * len).toInt))
      }
    }
  }

  /** Only the bus thread writes these fields and the driver reads them
    * only after a drain, which orders the writes before the reads.
    */
  private final class Recorder(tasksPerStage: Int) extends SparkListener {
    var jobs = 0
    var failed = 0L
    var fetchFailed = 0L
    // per stage: tasks, records, shuffle read, shuffle write, spill, GC, run
    private val sums = mutable.Map.empty[Int, Array[Long]]
    private val durations = mutable.Map.empty[Int, DurationSketch]
    private val names = mutable.Map.empty[Int, String]
    // per stage: a min-heap on duration that keeps the slowest tasks
    private val slowest = mutable.Map.empty[Int, mutable.PriorityQueue[TaskReport]]

    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      names(s.stageInfo.stageId) = s.stageInfo.name.takeWhile(_ != '\n')

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      t.reason match {
        case Success =>
        case _: FetchFailed => failed += 1; fetchFailed += 1
        case _ => failed += 1
      }
      val acc = sums.getOrElseUpdate(t.stageId, new Array[Long](7))
      acc(0) += 1
      val m = t.taskMetrics
      if (m != null) {
        val spill = m.memoryBytesSpilled + m.diskBytesSpilled
        acc(1) += m.inputMetrics.recordsRead
        acc(2) += m.shuffleReadMetrics.totalBytesRead
        acc(3) += m.shuffleWriteMetrics.bytesWritten
        acc(4) += spill
        acc(5) += m.jvmGCTime
        acc(6) += m.executorRunTime
        durations.getOrElseUpdate(t.stageId, new DurationSketch())
          .add(m.executorRunTime)
        if (tasksPerStage > 0) {
          val heap = slowest.getOrElseUpdate(t.stageId,
            mutable.PriorityQueue.empty[TaskReport](
              Ordering.by[TaskReport, Long](_.durationMs).reverse))
          heap.enqueue(TaskReport(t.stageId, t.taskInfo.taskId,
            t.taskInfo.host, m.executorRunTime, m.inputMetrics.recordsRead,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, spill))
          while (heap.size > tasksPerStage) heap.dequeue()
        }
      }
    }

    def stageReports: Seq[StageReport] = sums.toSeq.sortBy(_._1).map {
      case (id, a) =>
        val d = durations.get(id)
        StageReport(id, names.getOrElse(id, "?"), a(0).toInt, a(1), a(2),
          a(3), a(4), a(5), a(6), d.fold(0L)(_.quantile(0.5)),
          d.fold(0L)(_.quantile(0.95)), d.fold(0L)(_.max))
    }

    def taskReports: Seq[TaskReport] = slowest.toSeq.sortBy(_._1).flatMap {
      case (_, heap) => heap.toSeq.sortBy(t => (-t.durationMs, t.taskId))
    }
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

  /** `runMain graft.tools.QueryProfile <sfDir> <name>... [per-task]`: each
    * query runs once, profiled as its build plus `count()`, so the record
    * is its first run in the application: a trainer trains, a fixture
    * lands, and the first query also pays the JVM's codegen warm-up.
    * Prints the layer line and the stage rollup, and with `per-task` the
    * slowest 128 task rows of each stage — the reference's two display
    * formats (`task_metrics_rewriter.rs:20-38`).
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val perTask = args.last == "per-task"
    val spark = GraftSession.forMain("graft-profile")
    args.tail.filterNot(_ == "per-task").foreach { n =>
      val fn = SparkEntry.queries(n)
      val (rows, p) =
        of(spark, if (perTask) 128 else 0)(fn(spark, sfDir))(_.count())
      println(s"[profile] $n rows=$rows ${p.layers}")
      println(render(p.stages))
      if (perTask) println("\n" + renderPerTask(p.tasks))
    }
    spark.stop()
  }
}
