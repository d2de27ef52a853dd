package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{CatalogState, Tables}

/** Pins the session binding-marker semantics ([[graft.engine.CatalogState]]):
  * suite registers no-op while their token is current, but ANY fixture
  * bind (which shadows the suite's bare names) or explicit invalidation
  * forces a re-bind — getting this wrong silently serves one family's
  * `customer` to another family's query.
  */
class CatalogStateSpec extends AnyFunSuite {
  import SparkTestSession._

  private def customerCols: Set[String] =
    spark.table("customer").schema.fieldNames.toSet

  test("suite -> fixture -> suite alternation rebinds each time") {
    graft.queries.DsPort.register(spark, sf001)
    assert(customerCols.contains("c_customer_sk"), "TPC-DS customer bound")
    Tables.register(spark, sf001, "customer")
    assert(!customerCols.contains("c_customer_sk"), "fixture customer restored")
    assert(customerCols == Set("c_custkey", "c_name", "c_nationkey",
      "c_acctbal", "c_mktsegment"))
    graft.queries.DsPort.register(spark, sf001)
    assert(customerCols.contains("c_customer_sk"), "suite re-bound after fixture")
  }

  test("fixture register rebinds names a suite shadowed, skips pristine ones") {
    Tables.register(spark, sf001, "customer", "orders")
    // TPC-H extends customer with synthesized address/phone/comment.
    graft.queries.TpchPort.register(spark, sf001)
    assert(customerCols.contains("c_address"), "TPC-H extended customer bound")
    Tables.register(spark, sf001, "customer")
    assert(!customerCols.contains("c_address"),
      "fixture register must rebind a suite-shadowed name, not skip it")
  }

  test("explicit invalidation forces a suite re-bind") {
    graft.queries.TpchPort.register(spark, sf001)
    assert(customerCols.contains("c_address"))
    Tables.register(spark, sf001, "customer") // fixture shadows it back
    CatalogState.invalidate(spark)
    graft.queries.TpchPort.register(spark, sf001)
    assert(customerCols.contains("c_address"), "re-bound after invalidate")
  }

  test("markers and bindings are per-session (newSession isolation)") {
    // A second session over the same SparkContext has its own catalog and
    // its own RuntimeConf: suite bindings and markers must not leak —
    // and the materialized-parquet cache (keyed by fixture dir, not
    // session) must serve both sessions the same data.
    Tables.register(spark, sf001, "customer")
    val s2 = spark.newSession()
    graft.queries.DsPort.register(s2, sf001)
    assert(s2.table("customer").schema.fieldNames.contains("c_customer_sk"),
      "TPC-DS customer bound in the second session")
    assert(!customerCols.contains("c_customer_sk"),
      "first session's fixture customer must be untouched")
    graft.queries.DsPort.register(spark, sf001)
    assert(spark.table("store_sales").count() == s2.table("store_sales").count(),
      "both sessions read the same materialized adapter parquet")
  }

  test("a fixture-dir switch rebinds the same table names") {
    Tables.register(spark, sf001, "customer")
    val n1 = spark.table("customer").count()
    Tables.register(spark, sf01, "customer")
    val n2 = spark.table("customer").count()
    assert(n2 > n1, s"sf0.01 customer ($n2) must exceed sf0.001 ($n1)")
    Tables.register(spark, sf001, "customer")
    assert(spark.table("customer").count() == n1)
  }

  /** Binds a one-file fixture in a fresh directory named by `name`,
    * regenerates it in place and re-registers: the new rows must be bound,
    * not the old view served.
    */
  private def regenerationRebinds(name: java.io.File => String): Unit = {
    // The pristine-skip token carries (length, mtime) — ADVICE r10: a
    // regenerated parquet file mid-session must be re-read, not served
    // from the old binding.
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stale-test").toFile
    val d = name(dir)
    try {
      val target = new java.io.File(dir, "documents.parquet")
      Tables.writeSingleParquet(
        Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text"), target)
      Tables.register(spark, d, "documents")
      assert(spark.table("documents").count() == 2)
      // Pristine skip: a second register with the file untouched no-ops.
      Tables.register(spark, d, "documents")
      assert(spark.table("documents").count() == 2)
      // Regenerate in place (content + length change; mtime may or may
      // not tick within fs resolution — length alone must suffice). The
      // new file also gains a column: a stale view still reads the new
      // rows through its old relation, but only a re-bound view has the
      // new schema.
      Tables.writeSingleParquet(
        Seq((1L, "one", "en"), (2L, "two", "en"), (3L, "three e e", "fr"))
          .toDF("doc_id", "text", "lang"),
        target)
      Tables.register(spark, d, "documents")
      assert(spark.table("documents").count() == 3 &&
        spark.table("documents").columns.contains("lang"),
        "regenerated fixture must be re-bound, not served stale")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
      // Leave no binding to a deleted dir for later suites.
      CatalogState.invalidate(spark)
      Tables.register(spark, sf001, "documents")
    }
  }

  test("in-place fixture regeneration forces a rebind (no stale view)") {
    regenerationRebinds(_.getAbsolutePath)
  }

  test("in-place fixture regeneration forces a rebind behind a file: URI " +
    "fixture dir") {
    regenerationRebinds(_.toURI.toString)
  }
}
