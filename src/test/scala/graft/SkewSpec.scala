package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hot-key joins are left to AQE's skew-join split (GraftSession.defaultConf
  * turns it on): pin that it fires and changes no result.
  */
class SkewSpec extends AnyFunSuite {
  import SparkTestSession._

  test("AQE splits a skewed SMJ partition (skew=true) with identical results") {
    import spark.implicits._
    // The engine RELIES on runtime skew-splitting for hot-key joins
    // (GraftSession.defaultConf turns skewJoin on) — pin that it actually
    // fires and that the split join's output matches the unsplit one.
    // Thresholds are runtime conf, lowered so a ~3 MB hot partition counts
    // as skewed.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      // Keep the post-shuffle coalescer from merging the skew reads back.
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "8192")
    val fact = spark.range(60000)
      .select((when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id")))
        .as("k"),
        concat(lit("payload_with_some_width_"), col("id")).as("v"))
    val dim = spark.range(60000).select(col("id").as("k"),
      concat(lit("dim_"), col("id")).as("name"))
    def fingerprint(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum(hash(col("k"), col("v"), col("name"))
        .cast("long"))).head().toString
    val joined = fact.join(dim, Seq("k"))
    val plain = fingerprint(joined)
    val (skewed, plan) =
      try {
        confs.foreach { case (c, v) => spark.conf.set(c, v) }
        val df = fact.join(dim, Seq("k"))
        val fp = fingerprint(df)
        df.collect()
        (fp, df.queryExecution.executedPlan.toString)
      } finally confs.foreach { case (c, _) => spark.conf.unset(c) }
    assert(plan.contains("skew=true"),
      s"expected AQE to mark the hot partition skewed:\n${plan.take(1500)}")
    assert(skewed == plain,
      s"skew-split results diverged: $skewed vs $plain")
  }
}
