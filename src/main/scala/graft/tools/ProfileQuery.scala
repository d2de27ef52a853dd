package graft.tools

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.SparkEntry
import graft.engine.GraftSession

/** Whole-invocation profile of a SparkEntry query (optimization-round
  * instrumentation, guide §1): unlike [[MetricsReport.collect]] — which
  * wraps only the final action — this attaches the listener BEFORE the
  * query function runs, so eager sub-jobs inside query construction
  * (fixture writes, CC rounds, trainer loops, driver finishers) are
  * attributed too. Reports wall, job count, stage count, summed task run
  * time, the ideal span (Σ per-stage max task), and the top stages; the
  * gap between wall and span is driver/scheduler orchestration — the
  * number that tells you whether a slow query needs a faster data plane
  * or fewer sequential rounds.
  *
  * Usage: `runMain graft.tools.ProfileQuery <sfDir> <name>...`
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(s"local[$cpus]", "graft-profile")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      // one untimed warm pass (family-switch + codegen warmup, the Bench
      // discipline)
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case _: Throwable => () }
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val stages = TrieMap.empty[Int, (Int, Long, Long, Long, Long)] // tasks, runMs, maxMs, shufRead, records
      // stageNames, not `names` (r18 ADVICE: the old name shadowed the
      // query-name args inside names.foreach)
      val stageNames = TrieMap.empty[Int, String]
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onJobEnd(j: SparkListenerJobEnd): Unit = ()
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          val si = s.stageInfo
          val tm = si.taskMetrics
          val run = if (tm != null) tm.executorRunTime else 0L
          // Accumulate across stage ATTEMPTS (r18 ADVICE): a retried
          // stage re-reports under the same stageId; a plain put would
          // silently drop the earlier attempt's task time from totals.
          val prev = stages.getOrElse(si.stageId, (0, 0L, 0L, 0L, 0L))
          stages.put(si.stageId, (math.max(prev._1, si.numTasks),
            prev._2 + run, 0L,
            prev._4 + (if (tm != null) tm.shuffleReadMetrics.totalBytesRead else 0L),
            prev._5 + (if (tm != null) tm.inputMetrics.recordsRead else 0L)))
          stageNames.put(si.stageId,
            (si.name + " <- " + si.details.linesIterator
              .filterNot(_.contains("org.apache.spark"))
              .filterNot(_.startsWith("java"))
              .filterNot(_.contains("scala.")).take(3).mkString(" <- "))
              .take(220))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val cnt = SparkEntry.queries(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // settle the listener bus
      spark.sparkContext.removeSparkListener(listener)
      val totRun = stages.values.map(_._2).sum / 1000.0
      val span = stages.values.map { case (tasks, run, _, _, _) =>
        if (tasks > 0) run.toDouble / math.min(tasks, cpus) else 0.0
      }.sum / 1000.0
      println(f"[profile] $n%-30s wall=$wall%7.2f s  jobs=${jobs.get}%4d  " +
        f"stages=${stages.size}%4d  taskRun=$totRun%7.2f s  span~$span%6.2f s  rows=$cnt")
      val top = stages.toSeq.sortBy(-_._2._2).take(8)
      top.foreach { case (id, (tasks, run, _, shuf, rec)) =>
        println(f"    stage=$id%6d tasks=$tasks%5d runMs=$run%8d shufRead=$shuf%10d records=$rec%9d  ${stageNames.getOrElse(id, "")}")
      }
    }
    spark.stop()
  }
}
