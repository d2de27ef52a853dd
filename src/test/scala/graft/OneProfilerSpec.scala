package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine profiles a query one way, through `graft.tools.QueryProfile`:
  * no other main source attaches a SparkListener.
  */
class OneProfilerSpec extends AnyFunSuite {
  test("only QueryProfile.scala calls addSparkListener( under src/main") {
    val hits = MainSources.hits("addSparkListener\\(".r,
      "graft/tools/QueryProfile.scala")
    if (hits.nonEmpty)
      fail(s"record a run through QueryProfile instead:\n" + hits.mkString("\n"))
  }
}
