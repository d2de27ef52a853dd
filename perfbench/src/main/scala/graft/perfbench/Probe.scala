package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listeners saw during one query execution. Times are epoch ms. */
final case class Observed(
    jobs: Seq[(Int, Double, Double, Seq[Int])],   // id, start, end, stage ids
    stages: Seq[(Int, Int, Double, Double)],      // id, attempt, submitted, completed
    phases: Seq[(String, Double, Double)],        // planning phase, start, end
    tasks: Int, taskRunMs: Long, taskWaitMs: Long, gcMs: Long,
    shuffleBytes: Long, spillBytes: Long, retries: Int,
    exchanges: Int, batches: Int, batchMs: Long)

/** The benchmark's listeners on the scheduler, the SQL execution manager
  * and the streaming query manager. One query runs at a time and the bus is
  * drained after each, so everything gathered between two [[take]] calls
  * belongs to one execution. */
final class Probe extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.ArrayBuffer[(Int, Double, Double, Seq[Int])]()
  private val jobStart = mutable.Map[Int, (Double, Seq[Int])]()
  private val stages = mutable.ArrayBuffer[(Int, Int, Double, Double)]()
  private val stageSubmitted = mutable.Map[(Int, Int), Long]()
  private val phases = mutable.ArrayBuffer[(String, Double, Double)]()
  private var tasks, retries, exchanges, batches = 0
  private var taskRunMs, taskWaitMs, gcMs, shuffleBytes, spillBytes, batchMs = 0L

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized { batches += 1; batchMs += e.progress.batchDuration }
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
    s.streams.addListener(streaming)
  }

  def detach(s: SparkSession): Unit = {
    s.sparkContext.removeSparkListener(this)
    s.listenerManager.unregister(this)
    s.streams.removeListener(streaming)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = (e.time.toDouble, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, ids) => jobs += ((e.jobId, t0, e.time.toDouble, ids)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmitted((i.stageId, i.attemptNumber())) = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val t0 = stageSubmitted.getOrElse((i.stageId, i.attemptNumber()), i.submissionTime.getOrElse(0L))
    stages += ((i.stageId, i.attemptNumber(), t0.toDouble,
      i.completionTime.getOrElse(System.currentTimeMillis()).toDouble))
    if (i.attemptNumber() > 0) retries += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val info = e.taskInfo
    if (info.attemptNumber > 0 || e.reason != Success) retries += 1
    stageSubmitted.get((e.stageId, e.stageAttemptId))
      .foreach(t0 => taskWaitMs += math.max(0L, info.launchTime - t0))
    Option(e.taskMetrics).foreach { m =>
      taskRunMs += m.executorRunTime
      gcMs += m.jvmGCTime
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val n = scala.util.Try(Probe.exchanges(qe.executedPlan)).getOrElse(0)
    synchronized {
      exchanges += n
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }
  }

  /** Everything gathered since the previous call; resets the counters. */
  def take(): Observed = synchronized {
    val o = Observed(jobs.toSeq, stages.toSeq, phases.toSeq, tasks, taskRunMs,
      taskWaitMs, gcMs, shuffleBytes, spillBytes, retries, exchanges, batches, batchMs)
    jobs.clear(); jobStart.clear(); stages.clear(); stageSubmitted.clear(); phases.clear()
    tasks = 0; retries = 0; exchanges = 0; batches = 0
    taskRunMs = 0; taskWaitMs = 0; gcMs = 0; shuffleBytes = 0; spillBytes = 0; batchMs = 0
    o
  }
}

object Probe {

  /** Shuffle and broadcast exchanges in a final physical plan, looking
    * through adaptive plans, query stages, executed commands and
    * subqueries. Reused exchanges are not counted again. */
  def exchanges(p: SparkPlan): Int = {
    val here = p match {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
      case _ => 0
    }
    val below = p match {
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children ++ p.subqueries
    }
    here + below.map(exchanges).sum
  }
}
