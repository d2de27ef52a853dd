package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Shared, SparkInternals}
import org.scalatest.funsuite.AnyFunSuite

/** [[Shared]]'s contract: a lost block is recomputed from lineage, rows are
  * never served by plan to another instance, and `release` frees the
  * stored RDD at once.
  */
class SharedSpec extends AnyFunSuite {
  import SparkTestSession._

  /** `Shared(df)` and the one RDD it persisted. */
  private def shared(df: DataFrame): (DataFrame, RDD[_]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = Shared(df)
    val added = sc.getPersistentRDDs -- before
    assert(added.size == 1, s"expected one persisted RDD, got ${added.keys}")
    (out, added.head._2)
  }

  test("a lost block is recomputed from lineage: the next action returns " +
    "the same rows") {
    val (df, rdd) = shared(spark.range(0, 200, 1, 4)
      .select(col("id"), (col("id") * 7 % 13).as("v")))
    val first = df.collect().toSeq
    assert(SparkInternals.storedBlocks(rdd) == 4)
    SparkInternals.dropBlocks(rdd)
    assert(SparkInternals.storedBlocks(rdd) == 0, "blocks survived removal")
    assert(df.collect().toSeq == first)
    assert(SparkInternals.storedBlocks(rdd) == 4, "recomputed blocks were not stored")
  }

  test("two Shared frames with equal plans never serve each other's rows, " +
    "and the CacheManager gets no entry") {
    val cachedBefore = SparkInternals.cachedPlans(spark)
    // current_timestamp is fixed when a plan is optimized, so two frames
    // with the same analyzed plan hold different rows.
    def stamped = spark.range(0, 4, 1, 2)
      .select(col("id"), unix_micros(current_timestamp()).as("t"))
    val a = Shared(stamped)
    val rowsA = a.collect().toSeq
    Thread.sleep(5)
    val rowsB = Shared(stamped).collect().toSeq
    assert(rowsA != rowsB, "the second frame read the first frame's rows")
    assert(a.collect().toSeq == rowsA, "the first frame lost its own rows")
    val added = SparkInternals.cachedPlans(spark)
      .filterNot(c => cachedBefore.exists(_ eq c))
    assert(added.isEmpty, s"CacheManager entries added: ${added.map(_.plan)}")
  }

  test("Shared.release removes the frame's RDD from the persistent RDDs") {
    val (df, rdd) = shared(spark.range(10).toDF("id"))
    assert(df.count() == 10)
    Shared.release(df)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
  }
}
