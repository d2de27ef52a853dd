package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import graft.engine.GraftSession
import graft.SparkEntry

/** Distributed EXPLAIN ANALYZE analog: renders the executed plan as a
  * stage tree with per-node SQLMetrics (rows, data size, spill), the way the
  * reference renders its distributed stage trees
  * (`/root/reference/src/explain_analyze.rs:19-50`,
  * `tests/tpch_plans_test.rs:22-66`). Spark's stages are delimited by
  * exchanges (shuffle/broadcast) exactly like the reference's network
  * boundaries; AQE query-stage wrappers are unwrapped so the tree shows the
  * plan that actually ran.
  *
  * Usage: `runMain graft.tools.Explain <queryName> [sfDir]`, or
  * [[Explain.analyze]] programmatically (returns the rendered tree and the
  * [[QueryProfile]] layer line of the same run).
  */
object Explain {

  /** Build and execute the DataFrame under a [[QueryProfile]], and render
    * its final adaptive plan as an ASCII stage tree with populated metrics,
    * followed by the record's layer line.
    */
  def analyze(spark: SparkSession)(build: => DataFrame): String = {
    // collect() populates SQLMetrics and lets AQE settle
    val (df, profile) = QueryProfile.of(spark)(build) { df => df.collect(); df }
    val executed = df.queryExecution.executedPlan
    val sb = new StringBuilder
    val stageCounter = new java.util.concurrent.atomic.AtomicInteger(0)
    sb.append(s"== Stage ${stageCounter.getAndIncrement()} (result) ==\n")
    render(executed, 0, sb, stageCounter)
    sb.append(s"== Layers: ${profile.layers} ==\n")
    sb.toString
  }

  private def interestingMetrics(p: SparkPlan): String = {
    val keep = Seq("numOutputRows", "dataSize", "spillSize", "numFiles",
      "filesSize", "numPartitions", "shuffleBytesWritten", "numDroppedRows")
    val ms = p.metrics.collect {
      case (name, m) if keep.contains(name) && m.value > 0 =>
        s"$name=${m.value}"
    }
    if (ms.isEmpty) "" else ms.mkString(" [", ", ", "]")
  }

  private def render(p: SparkPlan, depth: Int, sb: StringBuilder,
                     stages: java.util.concurrent.atomic.AtomicInteger): Unit = {
    val pad = "  " * depth
    p match {
      case a: AdaptiveSparkPlanExec =>
        render(a.executedPlan, depth, sb, stages)
      case q: QueryStageExec =>
        render(q.plan, depth, sb, stages)
      case s: ShuffleExchangeLike =>
        sb.append(s"$pad${s.nodeName}${interestingMetrics(s)}\n")
        sb.append(s"$pad== Stage ${stages.getAndIncrement()} (shuffle: " +
          s"${s.outputPartitioning}) ==\n")
        s.children.foreach(render(_, depth + 1, sb, stages))
      case b: BroadcastExchangeLike =>
        sb.append(s"$pad${b.nodeName}${interestingMetrics(b)}\n")
        sb.append(s"$pad== Stage ${stages.getAndIncrement()} (broadcast) ==\n")
        b.children.foreach(render(_, depth + 1, sb, stages))
      case other =>
        sb.append(s"$pad${other.nodeName}${interestingMetrics(other)}\n")
        other.children.foreach(render(_, depth + 1, sb, stages))
        // Reused exchanges / subqueries still delimit stages.
        other.subqueries.foreach { sub =>
          sb.append(s"$pad== Subquery ==\n")
          render(sub, depth + 1, sb, stages)
        }
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q03_shipping_priority")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.forMain("graft-explain")
    println(s"=== EXPLAIN ANALYZE $name @ $sfDir ===")
    println(analyze(spark)(SparkEntry.queries(name)(spark, sfDir)))
    spark.stop()
  }
}
