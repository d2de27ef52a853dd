package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine shares an intermediate one way, through
  * `org.apache.spark.sql.graft.Shared`: no other main source may persist,
  * cache or checkpoint a frame or RDD.
  */
class OneWayToShareSpec extends AnyFunSuite {
  test("only Shared.scala persists, caches or checkpoints under src/main") {
    val hits = MainSources.hits(
      """\.persist\(|\.cache\(\)|(?i:checkpoint)\(""".r,
      "org/apache/spark/sql/graft/Shared.scala")
    if (hits.nonEmpty)
      fail(s"share through Shared instead:\n${hits.mkString("\n")}")
  }
}
