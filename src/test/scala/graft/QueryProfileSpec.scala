package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.SparkInternals
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.QueryProfile
import graft.tools.QueryProfile.StageReport

class QueryProfileSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Runs `body` under a plain job and task-end counter, drained before it
    * is attached and before it is read: the yardstick for the record's
    * counts.
    */
  private def counted[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val (jobs, tasks) = (new AtomicInteger, new AtomicInteger)
    val counter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    SparkInternals.drainListenerBus(sc)
    sc.addSparkListener(counter)
    try {
      val out = body
      SparkInternals.drainListenerBus(sc)
      (out, jobs.get, tasks.get)
    } finally sc.removeSparkListener(counter)
  }

  test("task metrics rollup sees the scan records and the agg shuffle") {
    val (_, p) = QueryProfile.of(spark)(
      SparkEntry.queries("q01_pricing_summary")(spark, sf001))(_.collect())
    val reports = p.stages
    assert(reports.nonEmpty, "no stages observed")
    assert(reports.map(_.recordsRead).sum >= 6000,
      s"scan records missing: $reports")
    assert(reports.exists(_.shuffleWriteBytes > 0),
      s"no shuffle write observed across stages: $reports")
    assert(p.numTasks > 0)
    // Latency percentiles (the reference's DDSketch P50/P95 metric types):
    // ordered, bounded by the max, and max <= the stage's total run time.
    reports.foreach { r =>
      assert(r.p50Ms <= r.p95Ms && r.p95Ms <= r.maxMs,
        s"percentiles out of order: $r")
      assert(r.maxMs <= r.runTimeMs, s"max task time exceeds stage total: $r")
    }
    assert(p.slots == spark.sparkContext.defaultParallelism)
  }

  // The reference renders Aggregated OR PerTask
  // (task_metrics_rewriter.rs:20-38); both formats must come from one run
  // of a multi-stage query, and the per-task rows must reconcile with the
  // stage rollup.
  test("per-task format lists task rows that reconcile with the stage rollup") {
    val (_, p) = QueryProfile.of(spark, tasksPerStage = 128)(
      SparkEntry.queries("q03_shipping_priority")(spark, sf001))(_.collect())
    val (stages, tasks) = (p.stages, p.tasks)
    assert(stages.nonEmpty && tasks.nonEmpty)
    val byStage = tasks.groupBy(_.stageId)
    // Every task row belongs to an observed stage, respects the retention
    // cap, and no task outlasts its stage's observed max.
    byStage.foreach { case (sid, ts) =>
      val st = stages.find(_.stageId == sid)
      assert(st.isDefined, s"task rows for unobserved stage $sid")
      assert(ts.length <= 128 && ts.length <= st.get.numTasks)
      assert(ts.forall(_.durationMs <= st.get.maxMs),
        s"task duration exceeds stage max in stage $sid")
      // Straggler ordering: rows arrive slowest-first within the stage.
      assert(ts.map(_.durationMs) == ts.map(_.durationMs).sortBy(-(_: Long)),
        s"per-task rows not straggler-ordered in stage $sid")
    }
    // When a stage has fewer tasks than the cap, every task is retained —
    // the sums must reconcile exactly with the rollup.
    stages.filter(s => s.numTasks <= 128 && byStage.contains(s.stageId))
      .foreach { s =>
        val ts = byStage(s.stageId)
        assert(ts.length == s.numTasks,
          s"stage ${s.stageId}: ${ts.length} task rows vs ${s.numTasks} tasks")
        assert(ts.map(_.recordsRead).sum == s.recordsRead,
          s"stage ${s.stageId}: task recordsRead don't sum to the rollup")
      }
    // Both formats render from the same collection.
    assert(QueryProfile.render(stages).nonEmpty)
    assert(QueryProfile.renderPerTask(tasks).linesIterator.size == tasks.size + 1)
  }

  test("span is the sum over stages of max(slowest task, task time / slots)") {
    def stage(id: Int, tasks: Int, runMs: Long, maxMs: Long) =
      StageReport(id, "s", tasks, 0, 0, 0, 0, 0, runMs, 0, 0, maxMs)
    // One 970 ms task among three 10 ms ones, on 4 slots: the stage cannot
    // end before its long task.
    val straggler = Seq(stage(0, 4, 1000, 970))
    assert(QueryProfile.span(straggler, slots = 4) == 0.97)
    // Σ run / min(tasks, slots), the other span formula once in use, reads
    // the same stage as if its work were split evenly: 0.25 s.
    val evenSplit = straggler.map(s =>
      s.runTimeMs.toDouble / math.min(s.numTasks, 4)).sum / 1000.0
    assert(evenSplit == 0.25 && evenSplit != QueryProfile.span(straggler, 4))
    // Eight even 100 ms tasks: bounded by their work spread over the slots.
    val even = Seq(stage(1, 8, 800, 100))
    assert(QueryProfile.span(even, slots = 4) == 0.2)
    assert(QueryProfile.span(even, slots = 2) == 0.4)
    assert(QueryProfile.span(straggler ++ even, slots = 4) == 1.17)
  }

  test("p18's record holds the jobs its build runs, counted like a plain listener") {
    val ((_, p), jobs, tasks) = counted(QueryProfile.of(spark)(
      SparkEntry.queries("p18_dup_clusters")(spark, sf001))(_.count()))
    // Dedup.connectedComponents runs pairs.count() while the frame is built.
    assert(p.buildJobs > 0, p.layers)
    assert(p.buildJobs < p.jobs, p.layers)
    assert(p.buildSec > 0 && p.buildSec < p.wallSec, p.layers)
    assert(p.jobs == jobs, p.layers)
    assert(p.numTasks == tasks, p.layers)
  }

  test("the record is complete on return: five q01 runs, no sleep") {
    (1 to 5).foreach { i =>
      val ((_, p), _, tasks) = counted(QueryProfile.of(spark)(
        SparkEntry.queries("q01_pricing_summary")(spark, sf001))(_.count()))
      assert(tasks > 0)
      assert(p.numTasks == tasks, s"run $i: ${p.layers}")
    }
  }
}
