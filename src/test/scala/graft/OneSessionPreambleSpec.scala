package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession

/** Every command-line main builds its session one way, through
  * `GraftSession.forMain`: one thread rule and one override rule, so a
  * `SPARK_GRAFT_CONF` master moves any main off local mode.
  */
class OneSessionPreambleSpec extends AnyFunSuite {
  test("only GraftSession.scala builds a session under src/main") {
    val hits = MainSources.hits(
      """(GraftSession|SparkSession)\.builder\(""".r,
      "graft/engine/GraftSession.scala")
    if (hits.nonEmpty)
      fail(s"build the session with GraftSession.forMain instead:\n" +
        hits.mkString("\n"))
  }

  test("forMain's settings: one shuffle partition per thread, the task " +
    "failure limit in the master, and an override's master wins") {
    def settings(taskFailures: Int, overrides: Seq[(String, String)]) =
      GraftSession.mainSettings(6, taskFailures,
        Seq("spark.sql.adaptive.enabled" -> "false"), overrides).toMap

    val plain = settings(1, Nil)
    assert(plain("spark.master") == "local[6]")
    assert(plain("spark.sql.shuffle.partitions") == "6")
    assert(plain("spark.sql.adaptive.enabled") == "false")
    assert(settings(3, Nil)("spark.master") == "local[6,3]")

    val cluster = settings(3, Seq("spark.master" -> "local-cluster[2,2,2048]",
      "spark.sql.adaptive.enabled" -> "true"))
    assert(cluster("spark.master") == "local-cluster[2,2,2048]")
    assert(cluster("spark.sql.adaptive.enabled") == "true")
  }
}
