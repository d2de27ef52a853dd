package graft.tools

import graft.SparkEntry
import graft.engine.GraftSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Bulk plan audit: executes every query and flags plans containing the
  * operators that are pathological at scale — cartesian products and
  * broadcast nested-loop joins — UNLESS the specific join instance is
  * linear by construction:
  *
  *  - one side's leaves are all bounded dimension scans (`nation` /
  *    `region` parquet, 25/5 rows at every SF): the TPC-DS adapter builds
  *    its calendar / time-of-day / demographic generators from
  *    `nation × nation`-style cross joins whose cardinality is a schema
  *    constant, so scan × constant is linear — the p27 broadcast-centroid
  *    argument applied structurally instead of per-query name;
  *  - one side is a global (no grouping keys) aggregate: a single-row
  *    build side (TPC-DS q9/q23/q88-class scalar crosses) makes the
  *    "nested loop" a constant-cost merge.
  *
  * Queries whose SEMANTICS are genuinely a cross/theta join over data-
  * scaled inputs stay on the name-keyed exempt list below. Exit summary
  * per query.
  */
object PlanAudit {

  /** Unwrap AQE / exchange / codegen shells down to the decision-relevant
    * node. */
  private def strip(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec  => strip(a.executedPlan)
    case q: QueryStageExec         => strip(q.plan)
    case e: Exchange               => strip(e.child)
    // A leaf in the tree, but it carries the reused exchange — resolve
    // through it so a reused single-row-aggregate broadcast is recognized.
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      strip(r.child)
    case w: WholeStageCodegenExec  => strip(w.child)
    case i: InputAdapter           => strip(i.child)
    case pr: ProjectExec           => strip(pr.child)
    case f: FilterExec             => strip(f.child)
    case other                     => other
  }

  /** All nodes, descending through AQE stages (collect() alone does not
    * cross QueryStageExec boundaries). Used by [[boundedDim]], so it
    * deliberately does NOT cross into subquery plans — a bounded dim scan
    * stays bounded regardless of what a filter subquery does. */
  private def expand(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
    case q: QueryStageExec        => expand(q.plan)
    case other => other +: other.children.flatMap(expand)
  }

  /** Audit traversal: [[expand]] plus the physical plans inside
    * scalar/IN/EXISTS subquery expressions (`plan.subqueries`), which
    * live in `innerChildren`, not `children` — without this a
    * CartesianProduct inside a subquery passes silently (ADVICE r09; the
    * pre-r09 treeString check covered them by accident). */
  private def expandWithSubqueries(p: SparkPlan): Seq[SparkPlan] = {
    val top = expand(p)
    top ++ top.flatMap(_.subqueries.flatMap(expandWithSubqueries))
  }

  /** Columns of the two bounded dimension tables (25 / 5 rows at every
    * SF). A leaf whose outputs are all drawn from these belongs to a
    * generator subtree — FileSourceScanExec truncates its path in
    * toString and ReusedExchangeExec has no path at all, so the output
    * attribute names are the reliable signal. */
  private val boundedCols =
    Set("n_nationkey", "n_name", "n_regionkey", "r_regionkey", "r_name")

  /** Every leaf of this subtree is a bounded dimension scan. */
  private def boundedDim(p: SparkPlan): Boolean = {
    val leaves = expand(p).filter(_.children.isEmpty)
    leaves.nonEmpty && leaves.forall { l =>
      l.output.nonEmpty && l.output.forall(a => boundedCols(a.name)) ||
        l.isInstanceOf[LocalTableScanExec] || l.toString.contains("OneRowRelation")
    }
  }

  private def singleRowAgg(p: SparkPlan): Boolean = strip(p) match {
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty
    case _                    => false
  }

  private def linearByConstruction(l: SparkPlan, r: SparkPlan): Boolean =
    boundedDim(l) || boundedDim(r) || singleRowAgg(l) || singleRowAgg(r)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.forMain("graft-audit")
    spark.sparkContext.setLogLevel("ERROR")
    // Queries whose SEMANTICS are a cross/nested-loop join over data-scaled
    // inputs — exempt by name.
    // p17 compares GROUP-level sketches pairwise: quadratic in the number
    // of groups (sources), not rows — the input relation is the aggregate.
    // p27 crossJoins every row against the BROADCAST per-label centroid
    // table (|labels| rows by construction).
    // q96: range-predicate EXISTS (multi_task_collect_join_repros.rs) —
    // BNLJ LeftSemi with the 100-row supplier broadcast by semantics.
    // d77 (TPC-DS q77 verbatim): `FROM cs, cr` — a cross of two aggregates
    // each grouped by cs/cr_call_center_sk, a 4-value synthesized domain:
    // constant × constant at every SF (the reference runs the same shape).
    // p96: the BRUTE-FORCE ADC baseline by semantics — corpus codes ×
    // the broadcast (qid, LUT) query set. Linear in the corpus: query
    // volume doesn't scale with corpus size (the production shape; the
    // p10/p27 broadcast-side argument). p103/p105 are the pruned
    // variants and pass the audit on their cell equi-joins.
    // p118: p96 with the TRAINED codebook — the same brute-force ADC
    // baseline shape and the same broadcast-panel argument.
    // p119: the recall eval's EXACT side is brute-force by definition
    // (ground truth for the index under measurement); the panel is a
    // fixed eval set, the corpus side streams once — linear in corpus.
    // p127/p128: the same eval class — BOTH sides are fixed-panel
    // brute-force baselines (truncation / quantization quality vs the
    // exact ground truth). p129: the vector arm ranks against ONE fixed
    // query vector (a 1-row broadcast side).
    // p150: hard-negative mining ground truth — the sparse probe panel
    // (id % 64) broadcasts against the corpus signatures exactly like
    // p119's exact side; the production path bounds candidates with the
    // banded index (rationale in the query comment).
    val crossByDesign = Set("q27_inequality_join", "q28_cross_join",
      "q29_scalar_subquery", "p07_jaccard_pairs", "p10_embedding_topk",
      "p13_embedding_near_pairs", "p17_source_similarity",
      "q26_null_aware_anti", "p27_centroid_confusion", "q89_hour_buckets",
      "q96_theta_exists", "d77", "p96_pq_topk", "p118_pq_trained_topk",
      "p119_ann_recall", "p127_matryoshka_recall", "p128_int8_recall",
      "p129_hybrid_rrf", "p150_hard_negatives")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.collect()
        val all = expandWithSubqueries(df.queryExecution.executedPlan)
        val offending = all.collect {
          case j: CartesianProductExec
            if !linearByConstruction(j.left, j.right) => "CartesianProduct"
          case j: BroadcastNestedLoopJoinExec
            if !linearByConstruction(j.left, j.right) => "BroadcastNestedLoopJoin"
        }.distinct
        val generatorOnly = offending.isEmpty && all.exists {
          case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec => true
          case _ => false
        }
        val verdict =
          if (offending.isEmpty && !generatorOnly) "ok"
          else if (offending.isEmpty) "ok (bounded-build cross only)"
          else if (crossByDesign(name)) s"ok (by design: ${offending.mkString(",")})"
          else s"FLAG: ${offending.mkString(",")}"
        println(f"[audit] $name%-30s $verdict")
      } catch {
        // String.valueOf: getMessage is null for bare NPEs etc. — the
        // handler must not itself throw and abort the remaining audits.
        case e: Throwable =>
          println(f"[audit] $name%-30s ERROR ${String.valueOf(e.getMessage).take(80)}")
      }
    }
    spark.stop()
  }
}
