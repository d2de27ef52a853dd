package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HashExpressions

/** The sketch expressions (simhash / minhash signature+bands / shingle
  * hashes / winnow / hyperplane LSH) carry `doGenCode` (a one-call
  * static-forwarder body) so the sketch pass participates in whole-stage
  * codegen — previously they were `CodegenFallback`, which dropped the
  * whole scan→tokenize→sketch projection out of WSCG on the dedup hot
  * path. Two guarantees pinned here:
  *
  *  1. codegen and interpreted eval agree bit-for-bit on every expression
  *     (a NO_CODEGEN factory-mode session vs the default CODEGEN path);
  *  2. a projection containing the sketch compiles into a WSCG stage
  *     (`*(n) Project` in the executed plan).
  */
class SketchCodegenSpec extends AnyFunSuite {
  import SparkTestSession._

  private def exprs = Seq(
    "simhash64(toks)",
    "minhash_signature(toks, 3, 16)",
    "minhash_bands(toks, 3, 16, 2)",
    "shingle_hashes(toks, 3)",
    "winnow_fingerprints(text, 4, 3)",
    "ascii_sum(text)",
    // hex(): a raw binary column would compare by array object identity
    // in Row.toString, not by value.
    "hex(byte_stride(cast(text AS binary), 3))")

  private def fixture(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "pack my box with five dozen liquor jugs right now please"),
      (3L, "sphinx of black quartz judge my vow said the old man"),
      (4L, "a b"),
      (5L, "")).toDF("id", "text")
      .withColumn("toks", split(col("text"), " "))
  }

  test("codegen and interpreted eval agree on every sketch expression") {
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val sel = exprs.zipWithIndex.map { case (e, i) => s"$e AS c$i" }
    val a = fixture(spark).selectExpr("id" +: sel: _*)
      .collect().map(_.toString).sorted
    val b = fixture(interp).selectExpr("id" +: sel: _*)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b), "codegen vs interpreted sketch outputs differ")
  }

  test("hyperplane_lsh agrees across eval modes on float embeddings") {
    import spark.implicits._
    def df(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      Seq((1L, Array(0.5f, -1.0f, 2.0f, 0.25f)),
          (2L, Array(-0.5f, 1.0f, -2.0f, -0.25f)),
          (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
        .toDF("id", "emb")
        .selectExpr("id", "hyperplane_lsh(emb, 8, 42) AS b")
    }
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    assert(df(spark).collect().map(_.toString).sorted
      .sameElements(df(interp).collect().map(_.toString).sorted))
  }

  test("sketch projection stays inside whole-stage codegen") {
    // A parquet round-trip: a LocalTableScan of literals would fold the
    // projection driver-side and show no WSCG stage at all.
    val dir = java.nio.file.Files.createTempDirectory("sketch_wscg").toString
    fixture(spark).select("id", "text").write.mode("overwrite").parquet(dir)
    val plan = spark.read.parquet(dir)
      .withColumn("toks", split(col("text"), " "))
      .selectExpr("id", "minhash_bands(toks, 3, 16, 2) AS mb")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("*(1) Project"),
      s"sketch projection fell out of WSCG:\n$plan")
    Seq(classOf[HashExpressions.SimHash64],
        classOf[HashExpressions.MinHashSignature],
        classOf[HashExpressions.MinHashBandHashes],
        classOf[HashExpressions.ShingleHashes],
        classOf[HashExpressions.WinnowFingerprints],
        classOf[HashExpressions.HyperplaneLsh],
        classOf[HashExpressions.AsciiSum],
        classOf[HashExpressions.ByteStride]).foreach { c =>
      assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
        .isAssignableFrom(c), s"${c.getSimpleName} regressed to CodegenFallback")
    }
  }
}
