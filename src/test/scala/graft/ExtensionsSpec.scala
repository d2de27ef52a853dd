package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Bpe, FastText, HashExpressions => H, Pq,
  VectorExpressions, VectorFunctions}

/** Sessions built through GraftSession get every custom Catalyst function
  * via SparkSessionExtensions, the one place SQL names are bound; the
  * Column accessors build the same expressions without any name.
  */
class ExtensionsSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Every SQL name with a call over [[inputs]] and the Column accessor
    * that must give the same value (the bare expression, for the two names
    * no engine code calls as a Column).
    */
  private def surface: Seq[(String, String, Column)] = Seq(
    ("simhash64", "simhash64(toks)", H.simhash64(col("toks"))),
    ("dot_f", "dot_f(emb, rev)", VectorFunctions.dot(col("emb"), col("rev"))),
    ("l2sq_f", "l2sq_f(emb, rev)",
      VectorFunctions.l2Squared(col("emb"), col("rev"))),
    ("sign_project", "sign_project(emb, 8, 3)",
      VectorExpressions.signProjectF(col("emb"), 8, 3L)),
    ("minhash_signature", "minhash_signature(toks, 3, 16)",
      column(H.MinHashSignature(expression(col("toks")), 3, 16))),
    ("minhash_bands", "minhash_bands(toks, 3, 16, 2)",
      H.minhashBands(col("toks"), 3, 16, 2)),
    ("shingle_hashes", "shingle_hashes(toks, 3)",
      H.shingleHashes(col("toks"), 3)),
    ("hyperplane_lsh", "hyperplane_lsh(emb, 8, 42)",
      H.hyperplaneLsh(col("emb"), 8, 42L)),
    ("ascii_sum", "ascii_sum(text)", H.asciiSum(col("text"))),
    ("nfc_normalize", "nfc_normalize(text)", H.nfcNormalize(col("text"))),
    ("interleave_bits", "interleave_bits(x, y)",
      H.interleaveBits(col("x"), col("y"))),
    ("byte_stride", "byte_stride(cast(text AS binary), 3)",
      column(H.ByteStride(expression(col("text").cast("binary")), 3))),
    ("winnow_fingerprints", "winnow_fingerprints(text, 4, 3)",
      H.winnowFingerprints(col("text"), 4, 3)),
    ("bpe_encode", "bpe_encode(text)", Bpe.bpeEncode(col("text"))),
    ("bpe_encode_big", "bpe_encode_big(text)", Bpe.bpeEncodeBig(col("text"))),
    ("fasttext_score", "fasttext_score(text)", FastText.score(col("text"))),
    ("pq_encode", "pq_encode(emb)", Pq.encode(col("emb"))),
    ("pq_lut", "pq_lut(emb)", Pq.lut(col("emb"))),
    ("pq_coarse_dists", "pq_coarse_dists(emb)", Pq.coarseDists(col("emb"))),
    ("pq_residual_encode", "pq_residual_encode(emb)",
      Pq.residualEncode(col("emb"))),
    ("pq_residual_lut", "pq_residual_lut(emb, cell)",
      Pq.residualLut(col("emb"), col("cell"))))

  private def inputs(s: SparkSession) = s.range(0, 12)
    .select(
      concat_ws(" ", lit("the"), col("id").cast("string"),
        lit("brown fox jumps over"), lit("nai\u0308ve dog")).as("text"),
      col("id").cast("int").as("x"), (col("id") * 3).cast("int").as("y"),
      (col("id") % 4).cast("int").as("cell"),
      transform(sequence(lit(0), lit(63)),
        j => sin(j * (col("id") + 1)).cast("float")).as("emb"))
    .select(col("*"), split(col("text"), " ").as("toks"),
      reverse(col("emb")).as("rev"))

  test("all 21 SQL names exist on a fresh session and equal their Column " +
    "accessors, which leave the registry as it was") {
    val s2 = spark.newSession()
    SparkSession.setActiveSession(s2)
    try {
      val names = s2.sessionState.functionRegistry.listFunction().toSet
      val df = inputs(s2)
      for ((name, sql, accessor) <- surface) {
        assert(s2.catalog.functionExists(name), s"$name is not a SQL function")
        val r = df.select(expr(sql).isNotNull.as("set"),
            (expr(sql) <=> accessor).as("same")).collect()
        assert(r.exists(_.getBoolean(0)), s"$sql is NULL on every row")
        assert(r.forall(_.getBoolean(1)), s"$sql differs from its accessor")
      }
      assert(surface.map(_._1).distinct.size == 21)
      assert(s2.sessionState.functionRegistry.listFunction().toSet == names,
        "a Column accessor changed the function registry")
    } finally SparkSession.setActiveSession(spark)
  }

  test("Column dot and l2Squared over array<int> from a range equal dot_f " +
    "and l2sq_f") {
    val df = spark.range(0, 20).select(col("id"),
      array(col("id").cast("int"), (col("id") * 2).cast("int"), lit(3)).as("a"),
      array(lit(1), col("id").cast("int"), lit(-2)).as("b"))
    val rows = df.select(col("id"),
        VectorFunctions.dot(col("a"), col("b")).as("dot"),
        expr("dot_f(a, b)").as("dot_sql"),
        VectorFunctions.l2Squared(col("a"), col("b")).as("l2"),
        expr("l2sq_f(a, b)").as("l2_sql"))
      .collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val i = r.getLong(0).toDouble
      assert(r.getDouble(1) == i + 2 * i * i - 6 && r.getDouble(1) == r.getDouble(2),
        s"dot $r")
      assert(r.getDouble(3) == (i - 1) * (i - 1) + i * i + 25 &&
        r.getDouble(3) == r.getDouble(4), s"l2 $r")
    }
  }

  test("injected functions are SQL-callable on a GraftSession build") {
    val sig = spark.sql("SELECT simhash64(array('alpha','beta')) AS s")
      .head().getLong(0)
    val sig2 = spark.sql("SELECT simhash64(array('alpha','beta')) AS s")
      .head().getLong(0)
    assert(sig == sig2, "simhash64 not deterministic")
    val bucket = spark.sql(
      "SELECT hyperplane_lsh(array(cast(0.5 AS float), cast(-1.0 AS float)), 4, 42) AS b")
      .head().getInt(0)
    assert(bucket >= 0 && bucket < 16)
    val asum = spark.sql("SELECT ascii_sum('ab') AS a").head().getLong(0)
    assert(asum == 97L + 98L)
    val mh = spark.sql(
      "SELECT size(minhash_signature(array('a','b','c','d','e','f'), 5, 8)) AS n")
      .head().getInt(0)
    assert(mh == 8)
  }
}
