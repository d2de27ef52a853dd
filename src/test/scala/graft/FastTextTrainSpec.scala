package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.FastText

/** Classifier training: feature extraction consistent with the scoring
  * kernel, the fixed-point weight rule against a driver-side reference,
  * trained-score round trip, codegen parity, and degradation.
  */
class FastTextTrainSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Independent reference: tokens -> rolling hashes -> feature indices,
    * straight from the scaladoc model.
    */
  private def refFeatures(text: String): Seq[Int] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    val hs = toks.map(t => t.codePoints().toArray
      .foldLeft(0L)((a, c) => (a * 31 + c) % FastText.HashMod))
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    hs.zipWithIndex.foreach { case (h, i) =>
      out += (h % FastText.Dim).toInt
      if (i > 0) out += ((hs(i - 1) * 131 + h) % FastText.Dim).toInt
    }
    out.toSeq
  }

  test("featuresJava emits exactly the indices scoreJava probes: the " +
    "planted-table score equals the feature-weight sum") {
    val w = FastText.buildWeights()
    for (t <- Seq("the cat sat on the mat", "a", "", "  spaced   out  ",
        "mixed 123 tokens éè")) {
      val feats = FastText.featuresJava(UTF8String.fromString(t))
        .toIntArray()
      assert(feats.toSeq == refFeatures(t), s"text '$t'")
      assert(feats.map(f => w(f).toLong).sum ==
        FastText.scoreJava(UTF8String.fromString(t), w), s"text '$t'")
    }
  }

  test("train() equals a driver-side reference of the fixed-point " +
    "Laplace rule, counting occurrences (multiset, not distinct)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "good good text", true),
      (2L, "good stuff", true),
      (3L, "bad text", false),
      (4L, "bad bad bad", false)).toDF("id", "text", "pos")
    val w = FastText.train(docs, col("text"), col("pos"))
    // reference counts
    val counts = scala.collection.mutable.Map.empty[Int, (Long, Long)]
    Seq(("good good text", 1L), ("good stuff", 1L), ("bad text", 0L),
      ("bad bad bad", 0L)).foreach { case (t, p) =>
      refFeatures(t).foreach { f =>
        val (np, nn) = counts.getOrElse(f, (0L, 0L))
        counts(f) = (np + p, nn + (1 - p))
      }
    }
    (0 until FastText.Dim).foreach { f =>
      val (np, nn) = counts.getOrElse(f, (0L, 0L))
      val expect = (((np + 1) * 200) / (np + nn + 2) - 100).toInt
      assert(w(f) == expect, s"feat $f")
    }
    // positive-only features score high, negative-only low, unseen 0
    val goodUni = refFeatures("good").head
    val badUni = refFeatures("bad").head
    assert(w(goodUni) > 0 && w(badUni) < 0)
  }

  test("scoreWith(trained broadcast) equals the manual dot product and " +
    "separates the training labels on a separable corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma", true), (2L, "alpha beta", true),
      (3L, "zeta eta theta", false), (4L, "zeta eta", false)
    ).toDF("id", "text", "pos")
    val w = FastText.train(docs, col("text"), col("pos"))
    val bc = spark.sparkContext.broadcast(w)
    val got = docs.select(col("id"),
        FastText.scoreWith(col("text"), bc).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq((1L, "alpha beta gamma"), (2L, "alpha beta"),
      (3L, "zeta eta theta"), (4L, "zeta eta")).foreach { case (id, t) =>
      assert(got(id) == refFeatures(t).map(f => w(f).toLong).sum)
    }
    assert(got(1L) > 0 && got(2L) > 0 && got(3L) < 0 && got(4L) < 0)
  }

  test("codegen and interpreted eval agree for fasttext_features; not " +
    "CodegenFallback") {
    def run(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      Seq("a b c", "", "xy", "q q q").toDF("t")
        .select(FastText.features(col("t")).as("f"))
        .collect().map(_.toString).sorted
    }
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    assert(run(spark).sameElements(run(interp)))
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[FastText.FastTextFeatures]))
  }

  test("empty corpus trains to the neutral prior (all-zero weights), " +
    "null text contributes nothing") {
    import spark.implicits._
    val empty = Seq.empty[(String, Boolean)].toDF("text", "pos")
    assert(FastText.train(empty, col("text"), col("pos")).forall(_ == 0))
    val withNull = Seq((null.asInstanceOf[String], true), ("ok", true))
      .toDF("text", "pos")
    val w = FastText.train(withNull, col("text"), col("pos"))
    val f = refFeatures("ok").head
    assert(w(f) == ((1 + 1) * 200 / (1 + 0 + 2) - 100))
  }
}
