package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine binds SQL function names one way, through
  * `graft.engine.GraftExtensions`: no other main source may register a
  * function in a session's registry or call one by name. Column accessors
  * build their Catalyst expressions directly.
  */
class OneFunctionPathSpec extends AnyFunSuite {
  test("only GraftExtensions.scala binds or calls functions by name " +
    "under src/main") {
    val hits = MainSources.hits(
      """createOrReplaceTempFunction|call_function\(|udf\.register""".r,
      "graft/engine/GraftExtensions.scala")
    if (hits.nonEmpty)
      fail(s"bind SQL names in GraftExtensions and build Columns from " +
        s"expressions instead:\n${hits.mkString("\n")}")
  }
}
