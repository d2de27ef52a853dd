package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.engine.ConfValue

/** Spark analog of the reference's PartialReduce planner rule
  * (`src/distributed_planner/partial_reduce_below_network_shuffles.rs:14-101`):
  * one extra merge aggregation between the partial aggregate and the
  * network shuffle, so rows representing the same key that escaped the
  * partial pass un-merged (hash-map pressure fallback) are combined before
  * they cost shuffle bytes.
  *
  * Off by default (`spark.graft.partialReduce=false`), matching the
  * reference's own default: Spark's partial `HashAggregateExec` already
  * merges every key its hash map can hold within the task, so the extra
  * pass only pays for itself when the partial stage spills heavily — on a
  * healthy high-cardinality aggregation it is pure added CPU. The rule
  * exists so the behavior is expressible and measurable (q34b in the bench
  * A/Bs it against the identical q34 plan) rather than assumed.
  *
  * Implementation: an AQE query-stage-preparation rule — by that phase
  * exchanges are placed, so the insertion cannot perturb join/distribution
  * planning. The inserted node is a `PartialMerge`-mode hash aggregate
  * whose result expressions are the partial's own output attributes
  * (grouping attrs ++ input agg buffer attrs), i.e. plan-transparent to
  * the exchange above it.
  */
case class PartialReduce(session: SparkSession) extends Rule[SparkPlan] {

  private[graft] def enabled: Boolean =
    ConfValue.get(session, "spark.graft.partialReduce", false)(_.toBoolean)

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!enabled) plan
    else plan.transformUp {
      case ex: ShuffleExchangeExec => ex.child match {
        case agg: HashAggregateExec
            if agg.groupingExpressions.nonEmpty &&
               agg.aggregateExpressions.nonEmpty &&
               agg.aggregateExpressions.forall(_.mode == Partial) =>
          val groupingAttrs = agg.groupingExpressions.map(_.toAttribute)
          val mergeExprs = agg.aggregateExpressions.map(_.copy(mode = PartialMerge))
          // Same aggregateFunction instances ⇒ same buffer attribute
          // exprIds ⇒ the merge node's output is attribute-identical to the
          // partial's, and the exchange above needs no rewrite.
          val merge = HashAggregateExec(
            requiredChildDistributionExpressions = None,
            isStreaming = false,
            numShufflePartitions = None,
            groupingExpressions = groupingAttrs,
            aggregateExpressions = mergeExprs,
            aggregateAttributes = agg.aggregateAttributes,
            initialInputBufferOffset = groupingAttrs.length,
            resultExpressions = groupingAttrs ++
              mergeExprs.flatMap(_.aggregateFunction.inputAggBufferAttributes),
            child = agg)
          ex.copy(child = merge)
        case _ => ex
      }
    }
  }
}
