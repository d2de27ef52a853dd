package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine keeps per-application state one way, through
  * `graft.engine.AppState`: no other main source may key anything by
  * the application id.
  */
class OneAppStateSpec extends AnyFunSuite {
  test("only AppState.scala mentions applicationId under src/main") {
    val hits = MainSources.hits("applicationId".r, "graft/engine/AppState.scala")
    if (hits.nonEmpty)
      fail(s"keep per-application state in AppState instead:\n" +
        hits.mkString("\n"))
  }
}
