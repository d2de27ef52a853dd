package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Explain

/** The EXPLAIN ANALYZE stage-tree formatter must delimit stages at every
  * exchange and carry real metrics — the reference's plan-rendering tests
  * (`/root/reference/tests/tpch_plans_test.rs:22-66`) assert the same
  * structure for its network boundaries.
  */
class ExplainSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q03 stage tree: shuffle + broadcast stages with row metrics") {
    val tree = Explain.analyze(spark)(
      SparkEntry.queries("q03_shipping_priority")(spark, sf001))
    assert(tree.contains("== Stage 0 (result) =="), tree)
    assert(tree.contains("(shuffle: hashpartitioning"), tree)
    assert(tree.contains("(broadcast)"), tree)
    assert("numOutputRows=\\d+".r.findFirstIn(tree).isDefined, tree)
    assert(tree.contains("Scan parquet"), tree)
    // The run's profile record closes the tree with its layer line.
    assert(tree.linesIterator.toSeq.last.matches(
      "== Layers: wall .* s \\(build .* s, \\d+ of [1-9]\\d* jobs\\) = span .* =="), tree)
  }

  test("q62 stage tree renders its scalar subqueries as their own sections") {
    val tree = Explain.analyze(spark)(
      SparkEntry.queries("q62_multi_scalar_columns")(spark, sf001))
    assert(tree.contains("== Subquery =="), tree)
  }

  test("q01 stage tree: one hash shuffle for the agg, one range for the sort") {
    val tree = Explain.analyze(spark)(
      SparkEntry.queries("q01_pricing_summary")(spark, sf001))
    val hash = "\\(shuffle: hashpartitioning".r.findAllIn(tree).size
    val range = "\\(shuffle: rangepartitioning".r.findAllIn(tree).size
    assert(hash == 1, s"expected exactly 1 hash shuffle (two-phase agg):\n$tree")
    assert(range == 1, s"expected exactly 1 range shuffle (final sort):\n$tree")
  }
}
