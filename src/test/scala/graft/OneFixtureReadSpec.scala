package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fixture tables are read one way, through `graft.engine.Tables`, which
  * takes each schema from the parquet footer on the driver: no other main
  * source may read a fixture path itself (and pay a schema-inference job).
  */
class OneFixtureReadSpec extends AnyFunSuite {
  test("only Tables.scala reads a parquet file under a fixture dir") {
    val hits = MainSources.hits("""parquet\(s"\$dir/""".r,
      "graft/engine/Tables.scala")
    if (hits.nonEmpty)
      fail(s"read fixtures through Tables instead:\n${hits.mkString("\n")}")
  }
}
