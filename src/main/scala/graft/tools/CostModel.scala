package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, InnerLike}

/** Static PRE-EXECUTION cost model — the Spark analog of the reference's
  * per-operator complexity algebra (`src/statistics/complexity_cpu.rs`,
  * `complexity_memory.rs`) and its `bytes_per_partition` stage-sizing
  * arithmetic (`src/events/defaults/file_scan_config.rs:13-34`): estimate
  * rows and CPU for every node of the OPTIMIZED logical plan before
  * anything runs, and derive a task-count recommendation from them.
  *
  * Spark's runtime AQE re-plans from MEASURED map-output statistics, which
  * is strictly better information — but it only exists after the first
  * stage runs. The static model fills the same pre-execution gap the
  * reference fills: choosing the INITIAL shuffle-partition count and
  * flagging quadratic operators before paying for a mis-sized stage 0.
  * Everything here is an estimate built from Catalyst's own
  * `LogicalPlan.stats` (file sizes at the leaves, propagated by the
  * optimizer) plus fixed per-operator weights mirroring the reference's
  * hardcoded constants; the honest contract is "right order of magnitude,
  * zero execution cost".
  */
object CostModel {

  /** One plan node's estimate. `cpu` is in abstract row-op units (1.0 =
    * one narrow row pass), cumulative over the subtree.
    */
  case class NodeCost(op: String, rows: Double, cpu: Double,
                      quadratic: Boolean) {
    override def toString: String =
      f"$op%-24s rows≈$rows%14.0f cpu≈$cpu%16.0f${if (quadratic) "  QUADRATIC" else ""}"
  }

  // Default selectivity/reduction constants — same role as the reference's
  // fixed per-operator factors; tuned for "order of magnitude", not truth.
  private val FILTER_SELECTIVITY = 0.25
  private val AGG_REDUCTION = 0.1

  private def rowWidth(attrs: Seq[Attribute]): Double =
    math.max(8.0, attrs.map(_.dataType.defaultSize).sum.toDouble)

  /** Estimated rows at a node: CBO rowCount when present, else
    * sizeInBytes / schema width at the leaves, with per-operator
    * propagation above them.
    */
  private def estimate(plan: LogicalPlan): NodeCost =
    estimateNode(plan, plan.children.map(estimate))

  /** One node's cost from its (already computed) child costs. */
  private def estimateNode(plan: LogicalPlan, children: Seq[NodeCost]): NodeCost = {
    val childRows = children.map(_.rows)
    val childCpu = children.map(_.cpu).sum
    val anyQuad = children.exists(_.quadratic)
    def mk(rows: Double, selfCpu: Double, quad: Boolean = false) =
      NodeCost(plan.nodeName, math.max(rows, 1.0), childCpu + selfCpu,
        quad || anyQuad)
    plan match {
      case leaf: LeafNode =>
        val stats = leaf.stats
        val rows = stats.rowCount.map(_.toDouble).getOrElse(
          stats.sizeInBytes.toDouble / rowWidth(leaf.output))
        mk(rows, rows)
      case _: Filter =>
        val in = childRows.head
        mk(in * FILTER_SELECTIVITY, in * 0.5)
      case p: Project =>
        val in = childRows.head
        // Computed expressions cost more than column pruning.
        val exprCost = p.projectList.count {
          case _: AttributeReference => false
          case a: Alias => !a.child.isInstanceOf[AttributeReference]
          case _ => true
        }
        mk(in, in * (0.1 + 0.3 * exprCost))
      case a: Aggregate =>
        val in = childRows.head
        val out = if (a.groupingExpressions.isEmpty) 1.0 else in * AGG_REDUCTION
        mk(out, in * (1.0 + 0.5 * a.groupingExpressions.size))
      case j: Join =>
        val (l, r) = (childRows(0), childRows(1))
        // Equi-joinable = at least one EqualTo between attributes of
        // opposite sides (what lets Spark pick hash/sort-merge instead of
        // a nested loop).
        import org.apache.spark.sql.catalyst.expressions.EqualTo
        val equi = j.condition.exists(_.exists {
          case EqualTo(a: AttributeReference, b: AttributeReference) =>
            (j.left.outputSet.contains(a) && j.right.outputSet.contains(b)) ||
              (j.right.outputSet.contains(a) && j.left.outputSet.contains(b))
          case _ => false
        })
        j.joinType match {
          case Cross =>
            mk(l * r, l * r * 0.5, quad = true)
          case _ if !equi =>
            // Theta/cartesian join: nested-loop shape, O(n·m) — the
            // reference caps these at one task
            // (inject_network_boundaries.rs:295-307); we surface the same
            // red flag.
            mk(l * r * FILTER_SELECTIVITY, l * r * 0.5, quad = true)
          case _: InnerLike =>
            mk(math.max(l, r), (l + r) * 1.5)
          case FullOuter =>
            mk(l + r, (l + r) * 1.5)
          case _ =>
            mk(l, (l + r) * 1.5)
        }
      case _: Sort =>
        val in = childRows.head
        mk(in, in * math.max(1.0, math.log(in) / math.log(2.0)))
      case _: Window =>
        val in = childRows.head
        mk(in, in * (1.5 + math.max(1.0, math.log(in) / math.log(2.0))))
      case l: GlobalLimit =>
        val lim = l.maxRows.map(_.toDouble).getOrElse(childRows.head)
        mk(math.min(lim, childRows.head), 0.0)
      case _: Union =>
        mk(childRows.sum, 0.0)
      case _: Distinct | _: Deduplicate =>
        val in = childRows.head
        mk(in * AGG_REDUCTION, in * 1.5)
      case _ =>
        // Pass-through default (SubqueryAlias, Repartition, views, ...).
        mk(childRows.headOption.getOrElse(1.0),
          childRows.headOption.getOrElse(1.0) * 0.1)
    }
  }

  /** Per-node cost table for a DataFrame, leaf-to-root order — one
    * bottom-up pass (estimate() recurses per subtree, so calling it per
    * node would be quadratic in plan depth and re-touch leaf stats each
    * time).
    */
  def explain(df: DataFrame): Seq[NodeCost] = {
    val out = Seq.newBuilder[NodeCost]
    def walk(p: LogicalPlan): NodeCost = {
      val c = estimateNode(p, p.children.map(walk))
      out += c
      c
    }
    walk(df.queryExecution.optimizedPlan)
    out.result()
  }

  /** Root cumulative cost. */
  def totalCost(df: DataFrame): NodeCost = estimate(df.queryExecution.optimizedPlan)

  /** Pre-execution shuffle-partition recommendation — the reference's
    * `bytes_per_partition` arithmetic applied to estimated shuffled bytes:
    * tasks = clamp(ceil(estBytes / bytesPerTask), 1, maxTasks). Feed this
    * to `spark.sql.shuffle.partitions` BEFORE running; AQE then coalesces
    * downward at runtime if the estimate overshot (the cheap direction —
    * an undershoot cannot be fixed without this knob).
    */
  def recommendShufflePartitions(df: DataFrame,
                                 bytesPerTask: Long = 64L * 1024 * 1024,
                                 maxTasks: Int = 2000): Int = {
    val root = totalCost(df)
    val width = rowWidth(df.queryExecution.optimizedPlan.output)
    val estBytes = root.rows * width
    math.max(1, math.min(maxTasks, math.ceil(estBytes / bytesPerTask).toInt))
  }

  /** Human-readable report (the `EXPLAIN`-style surface of the model). */
  def report(df: DataFrame): String = {
    val rows = explain(df)
    val rec = recommendShufflePartitions(df)
    (rows.map(_.toString) :+
      f"TOTAL cpu≈${rows.last.cpu}%16.0f  recommended shuffle partitions: $rec")
      .mkString("\n")
  }

  private type Alias = org.apache.spark.sql.catalyst.expressions.Alias
}
