package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Sketches.MinHashUnion

/** MinHashUnion aggregator semantics: order/merge-shape independence (the
  * property that makes map-side partial aggregation safe) and estimate
  * quality on known set overlaps.
  */
class SketchesSpec extends AnyFunSuite {

  private val agg = MinHashUnion(256)

  private def sketch(groups: Seq[Seq[String]]): Seq[Long] = {
    val bufs = groups.map(g => agg.reduce(agg.zero, g))
    agg.finish(bufs.reduce(agg.merge))
  }

  /** Estimated jaccard between two MinHashUnion signatures. */
  private def estJaccard(a: Seq[Long], b: Seq[Long]): Double =
    a.zip(b).count { case (x, y) => x == y }.toDouble / a.size

  test("merge order and grouping never change the signature") {
    val rows = Seq(Seq("a", "b"), Seq("c"), Seq("d", "e", "a"), Seq("b", "f"))
    val s1 = sketch(rows)
    val s2 = sketch(rows.reverse)
    val s3 = sketch(Seq(rows.flatten)) // single partition
    assert(s1 == s2 && s1 == s3)
  }

  test("estimate tracks exact jaccard on constructed overlaps") {
    val base = (0 until 100).map(i => s"tok$i")
    val half = base.take(50) ++ (100 until 150).map(i => s"tok$i")
    val sa = sketch(Seq(base))
    val sb = sketch(Seq(half))
    val est = estJaccard(sa, sb)
    val exact = 50.0 / 150.0 // |intersect|=50, |union|=150
    assert(math.abs(est - exact) < 0.1, s"est=$est exact=$exact")
    assert(estJaccard(sa, sa) == 1.0)
  }

  test("disjoint sets estimate near zero") {
    val sa = sketch(Seq((0 until 80).map(i => s"x$i")))
    val sb = sketch(Seq((0 until 80).map(i => s"y$i")))
    assert(estJaccard(sa, sb) < 0.05)
  }
}
