package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Merge

/** MERGE/upsert semantics on planted frames. */
class MergeSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("upsert: update wins, insert appears, untouched passes through") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    val delta = Seq((2L, "b2", 99.0), (4L, "d", 40.0)).toDF("k", "name", "v")
    val out = Merge.upsert(base, delta, "k").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq(
      (1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("upsert rejects mismatched schemas") {
    val base = Seq((1L, "a")).toDF("k", "name")
    val bad = Seq((1L, 2.0)).toDF("k", "v")
    intercept[IllegalArgumentException](Merge.upsert(base, bad, "k"))
  }

  test("upsert result has exactly keys(base) union keys(updates)") {
    val base = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") * 2).cast("double").as("v"), lit("base").as("name"))
      .select("k", "name", "v")
    val delta = spark.range(500, 1500).select(col("id").as("k"),
      lit("upd").as("name"), lit(0.0).as("v"))
    val out = Merge.upsert(base, delta, "k")
    assert(out.count() == 1500)
    assert(out.filter(col("name") === "upd").count() === 1000)
    assert(out.filter(col("k") < 500 && col("name") =!= "base").count() === 0)
  }
}
