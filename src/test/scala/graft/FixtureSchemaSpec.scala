package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.streaming.Streams

/** `Tables.load` takes each fixture's schema from its parquet footer on the
  * driver. The frames it builds must have the schema Spark's own inference
  * gives, and building them must run no Spark job.
  */
class FixtureSchemaSpec extends AnyFunSuite {
  import SparkTestSession._

  /** What a load read with inference: the plain `spark.read.parquet`
    * schema, through the same normalizers.
    */
  private def inferred(dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    name match {
      case "events" => Tables.normalizeEventTs(df)
      case "embeddings" => Tables.normalizeEmbeddings(df)
      case _ => df
    }
  }

  test("every fixture table loads with the inferred schema at sf0.001 and " +
    "sf0.01") {
    for (dir <- Seq(sf001, sf01); name <- Tables.all) {
      // load first: it sets the events read flags the inference sees too
      val got = Tables.load(spark, dir, name).schema
      assert(got == inferred(dir, name).schema, s"$dir/$name")
    }
  }

  test("a multi-part directory table loads with the inferred schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dirtable").toFile
    try {
      val path = s"$dir/parts.parquet"
      spark.range(0, 100, 1, 4)
        .select(col("id"), (col("id") * 0.5).as("x"),
          when(col("id") % 3 === 0, lit(null)).otherwise(col("id").cast("string"))
            .as("s"), array(col("id").cast("float")).as("v"))
        .write.parquet(path)
      val parts = new java.io.File(path).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(parts > 1, s"$parts part files")
      assert(Tables.load(spark, dir.toString, "parts").schema ==
        spark.read.parquet(path).schema)
      assert(Tables.load(spark, dir.toString, "parts").count() == 100)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("Tables.load runs no Spark job") {
    for (name <- Tables.all) {
      val jobs = jobsOf(Tables.load(spark, sf001, name))
      assert(jobs == 0, s"$name: $jobs jobs")
    }
  }

  test("the three fixture streams keep the inferred schemas") {
    assert(Streams.eventsStream(spark, sf001).schema ==
      inferred(sf001, "events").schema)
    assert(Streams.embeddingsStream(spark, sf001).schema ==
      spark.read.parquet(s"$sf001/embeddings.parquet").schema)
    assert(Streams.documentsStream(spark, sf001).schema ==
      spark.read.parquet(s"$sf001/documents.parquet").schema)
  }
}
