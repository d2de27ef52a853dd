package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables

/** The size predicate behind `Tables.loadFanned`: a fixture scan is
  * NARROW when its estimated split count is under half the session's
  * parallelism. A table whose size cannot be read must take the scale
  * branch (no fan-out), never pass for one small split.
  */
class PanelStrategySpec extends AnyFunSuite {
  import SparkTestSession._

  test("size predicate: a stat failure takes the scale branch") {
    // tableBytes reports an unreadable table as Long.MaxValue; the split
    // estimate must not overflow into "one split, narrow".
    assert(!Tables.isNarrow(spark, Tables.tableBytes(spark, sf01, "no_such_table")))
    assert(Tables.isNarrow(spark, Tables.tableBytes(spark, sf01, "documents")))
  }
}
