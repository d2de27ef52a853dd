package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.engine.ConfValue

/** Optimizer rule: strip user broadcast hints whose build side is estimated
  * larger than `spark.graft.broadcastGuard.maxBytes` (default 256 MiB).
  *
  * This is the engine-level protection the reference implements as
  * broadcast legality normalization
  * (`/root/reference/src/distributed_planner/normalize_collect_joins.rs:16-53`):
  * a user hint must never be able to force an unbounded relation through a
  * broadcast (driver OOM at scale — the round-1 q17 bug class: hinting an
  * unbounded per-key aggregate works at sf0.1 and kills the driver at
  * SF100). With the hint stripped, join selection falls back to Spark's
  * size-based planning and AQE.
  */
case class BroadcastGuard(spark: SparkSession) extends Rule[LogicalPlan] {

  val MaxBytesKey = "spark.graft.broadcastGuard.maxBytes"

  private[graft] def maxBytes: BigInt =
    ConfValue.get(spark, MaxBytesKey, BigInt(256L * 1024 * 1024)) { raw =>
      val bytes = BigInt(raw)
      require(bytes >= 0, "a negative size")
      bytes
    }

  // By the time injected rules run, EliminateResolvedHint has already moved
  // hints onto the Join node (JoinHint.leftHint/rightHint) — match there.
  private def guard(side: String, h: Option[HintInfo],
                    child: LogicalPlan): Option[HintInfo] = h match {
    case Some(info) if info.strategy.exists(_.toString.toLowerCase.contains("broadcast")) &&
        child.stats.sizeInBytes > maxBytes =>
      logWarning(s"BroadcastGuard: stripping $side broadcast hint — build " +
        s"side estimated ${child.stats.sizeInBytes} bytes > $maxBytes " +
        s"($MaxBytesKey); letting size-based join selection decide")
      None
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j: Join if j.hint.leftHint.isDefined || j.hint.rightHint.isDefined =>
      j.copy(hint = j.hint.copy(
        leftHint = guard("left", j.hint.leftHint, j.left),
        rightHint = guard("right", j.hint.rightHint, j.right)))
  }
}
