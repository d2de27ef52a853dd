package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.AppState

/** fastText-style linear quality-classifier INFERENCE as a codegen'd
  * expression — the standard model-based curation component after the
  * statistical filters (Gopher/C4 rules, perplexity, DSIR): hashed
  * n-gram features × a weight vector, one dot product per document,
  * thresholded into the funnel. The public fastText architecture
  * (bag of word unigrams + hashed bigrams → linear layer) re-expressed
  * for inference-at-scale; training happens offline, the 100 TB pass
  * only scores.
  *
  * Model definition (documented exactly because a DuckDB oracle
  * recomputes every score arithmetically):
  *  - tokens: split pre-normalized text ([[TextFunctions.normText]]) on
  *    single spaces, empty tokens skipped.
  *  - token hash: rolling codepoint hash h = (h·31 + cp) mod 2^20 over
  *    the token's codepoints (matching SQL `unicode(substr(t, j, 1))`
  *    walks — the [[Bpe]] UNK precedent for non-BMP agreement).
  *  - features: one unigram per token, index h mod [[Dim]]; one bigram
  *    per adjacent token pair, index (h₁·131 + h₂) mod [[Dim]].
  *  - weights: the PLANTED closed-form table w(j) = ((j·37 + 11) mod
  *    201) − 100 ∈ [−100, 100] — generated once on the driver, shipped
  *    via a genuine `SparkContext.broadcast` (the [[Bpe.BpeBigEncode]]
  *    vocab-distribution shape: a production classifier's weights are
  *    DATA on the wire, not code), probed O(1) per feature.
  *  - score = Σ w(feature index); keep iff score > 0.
  *
  * Scale shape: narrow, shuffle-free, whole-stage codegen (the
  * broadcast handle rides into generated code via `addReferenceObj`);
  * each executor reads the weight table once from the torrent. At real
  * vocab sizes (fastText default: 2M buckets × dims) the same broadcast
  * carries the bigger table unchanged.
  */
object FastText {

  /** Feature-hash bucket count (the fastText `-bucket` analog). */
  val Dim = 4096

  /** Rolling-hash modulus: keeps (h·31 + cp) inside 2^26 — overflow-free
    * in both Long and DuckDB BIGINT arithmetic.
    */
  val HashMod: Int = 1 << 20

  /** The planted weight table — closed-form so the oracle rebuilds any
    * entry arithmetically: w(j) = ((j·37 + 11) mod 201) − 100.
    */
  def buildWeights(): Array[Int] =
    Array.tabulate(Dim)(j => ((j * 37 + 11) % 201) - 100)

  /** Runtime kernel (public: generated Java calls the static forwarder).
    * One pass over the string; token hashes fold inline — no token array
    * is ever materialized.
    */
  def scoreJava(s: UTF8String, w: Array[Int]): Long = {
    val str = s.toString
    val n = str.length
    var score = 0L
    var h = 0L
    var prev = -1L
    var inTok = false
    var i = 0
    // token finalization is inlined at both call sites (space and EOS) —
    // a nested closure would box the mutated locals in the hot loop
    while (i <= n) {
      if (i == n || str.charAt(i) == ' ') {
        if (inTok) {
          score += w((h % Dim).toInt)
          if (prev >= 0) score += w(((prev * 131 + h) % Dim).toInt)
          prev = h
          h = 0L
          inTok = false
        }
        i += 1
      } else {
        val cp = str.codePointAt(i)
        h = (h * 31 + cp) % HashMod
        inTok = true
        i += Character.charCount(cp)
      }
    }
    score
  }

  /** string -> classifier score (Σ hashed-n-gram weights) against the
    * broadcast weight table. The broadcast handle rides the expression
    * into codegen via `addReferenceObj` — scoring stays inside
    * whole-stage codegen with the scan around it.
    */
  case class FastTextScore(child: Expression,
      weights: org.apache.spark.broadcast.Broadcast[Array[Int]])
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "fasttext_score"

    override def nullSafeEval(input: Any): Any =
      scoreJava(input.asInstanceOf[UTF8String], weights.value)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("fasttextWeights", weights,
        "org.apache.spark.broadcast.Broadcast")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.FastText.scoreJava($c, (int[])$ref.value())")
    }

    override protected def withNewChildInternal(c: Expression): FastTextScore =
      copy(child = c)
  }

  /** Runtime kernel for TRAINING-side feature extraction: the feature
    * indices [[scoreJava]] would probe, as an array (one unigram per
    * token, then the bigram with the previous token) — the same
    * single-pass walk, emitting indices instead of folding weights.
    */
  def featuresJava(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toString
    val n = str.length
    val out = new java.util.ArrayList[Integer](math.max(8, n / 4))
    var h = 0L
    var prev = -1L
    var inTok = false
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == ' ') {
        if (inTok) {
          out.add((h % Dim).toInt)
          if (prev >= 0) out.add(((prev * 131 + h) % Dim).toInt)
          prev = h
          h = 0L
          inTok = false
        }
        i += 1
      } else {
        val cp = str.codePointAt(i)
        h = (h * 31 + cp) % HashMod
        inTok = true
        i += Character.charCount(cp)
      }
    }
    val arr = new Array[Int](out.size())
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  /** string -> array<int> of hashed feature indices (training side). */
  case class FastTextFeatures(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "fasttext_features"

    override def nullSafeEval(input: Any): Any =
      featuresJava(input.asInstanceOf[UTF8String])

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.FastText.featuresJava($c)")

    override protected def withNewChildInternal(c: Expression): FastTextFeatures =
      copy(child = c)
  }

  /** Weight quantization scale for [[train]] — integer-rational weights
    * in [−100, 99], the planted table's range.
    */
  val TrainScale = 200L

  /** Closed-form classifier TRAINING from label counts (the
    * Laplace-smoothed positive-rate rule, fixed-point — no transcendental
    * functions, so Spark and any SQL replay agree bit-for-bit):
    * w(f) = (pos_f + 1)·200 div (pos_f + neg_f + 2) − 100, counting
    * every feature OCCURRENCE (the multiset [[scoreJava]] probes).
    * Unseen features get the neutral prior w = 0.
    *
    * Scale shape: one distributed explode+count pass with map-side
    * combine (shuffle carries ≤ [[Dim]] × 2 longs per partition), then
    * a ≤ [[Dim]]-row driver exchange to assemble the weight array —
    * the model-fitting exchange, same as the k-means centroid step.
    * The returned array plugs straight into [[FastTextScore]].
    */
  def train(df: org.apache.spark.sql.DataFrame, text: Column,
            posLabel: Column): Array[Int] = {
    import org.apache.spark.sql.functions._
    val rows = df
      .select(when(posLabel, 1).otherwise(0).as("__p"),
        explode(features(text)).as("__f"))
      .groupBy(col("__f"))
      .agg(sum(col("__p")).as("np"), sum(lit(1) - col("__p")).as("nn"))
      .collect()
    val w = new Array[Int](Dim) // unseen: (1·200) div 2 − 100 = 0
    rows.foreach { r =>
      val np = r.getLong(1); val nn = r.getLong(2)
      w(r.getInt(0)) = (((np + 1) * TrainScale) / (np + nn + 2) - 100).toInt
    }
    w
  }

  /** Feature-index column (training side). */
  def features(text: Column): Column = column(FastTextFeatures(expression(text)))

  /** Score against a TRAINED weight broadcast (unlike the planted table,
    * several trained models may coexist in one session).
    */
  def scoreWith(text: Column,
      w: org.apache.spark.broadcast.Broadcast[Array[Int]]): Column =
    column(FastTextScore(expression(text), w))

  private[graft] def weightsBc(spark: SparkSession) =
    AppState.memo(spark, "fastText.weights")(
      spark.sparkContext.broadcast(buildWeights()))

  /** Score pre-normalized text (pass [[TextFunctions.normText]] output). */
  def score(text: Column): Column =
    column(FastTextScore(expression(text), weightsBc(SparkSession.active)))
}
