package graft.engine

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.LongType

import graft.functions.{Bpe, FastText, Pq, VectorExpressions}
import graft.functions.HashExpressions._

/** `SparkSessionExtensions` injector for the engine's custom Catalyst
  * expressions — the standard deployment path
  * (`spark.sql.extensions=graft.engine.GraftExtensions` or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`), mirroring
  * how the reference packages its custom operators behind a single
  * session-context builder (`/root/reference/src/distributed_ext.rs:76-120`).
  *
  * This is the only place a SQL function name is bound. The Column
  * accessors (`HashExpressions.simhash64`, `Pq.encode`, …) build their
  * expressions directly and never touch a session's function registry.
  * The model-backed builders read their broadcast from the active
  * session's application when a query calls them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(exprs: Seq[Expression], i: Int): Int =
    exprs(i).eval(InternalRow.empty).asInstanceOf[Int]
  // SQL integer literals may arrive as INT or BIGINT: accept both, and fail
  // naming the argument rather than with a bare MatchError.
  private def longArg(exprs: Seq[Expression], i: Int, what: String): Long =
    exprs(i).eval(InternalRow.empty) match {
      case x: Int => x.toLong
      case x: Long => x
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(session => graft.plans.BroadcastGuard(session))
    // Reference PartialReduce analog; inert unless spark.graft.partialReduce
    // is set on the session (off by default, like the reference's).
    ext.injectQueryStagePrepRule(session => graft.plans.PartialReduce(session))
    def fn(name: String, usage: String)(build: Seq[Expression] => Expression) =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", null, name, usage, ""), build))
    def active = SparkSession.active

    fn("simhash64", "simhash64(tokens) - 64-bit SimHash of a token array")(
      exprs => SimHash64(exprs.head))
    fn("dot_f", "dot_f(a, b) - double dot product of two numeric arrays")(
      exprs => VectorExpressions.dotExpr(exprs(0), exprs(1)))
    fn("l2sq_f", "l2sq_f(a, b) - squared L2 distance of two numeric arrays")(
      exprs => VectorExpressions.l2sqExpr(exprs(0), exprs(1)))
    fn("sign_project",
      "sign_project(vec, dims, seed) - random ±1 projection to dims dimensions")(
      exprs => VectorExpressions.signProjectExpr(exprs(0),
        longArg(exprs, 1, "sign_project: dims").toInt,
        longArg(exprs, 2, "sign_project: seed")))
    fn("minhash_signature",
      "minhash_signature(tokens, shingleLen, k) - k minhashes over word shingles")(
      exprs => MinHashSignature(exprs.head, intArg(exprs, 1), intArg(exprs, 2)))
    fn("minhash_bands",
      "minhash_bands(tokens, shingleLen, k, r) - k/r LSH band hashes")(
      exprs => MinHashBandHashes(exprs.head,
        intArg(exprs, 1), intArg(exprs, 2), intArg(exprs, 3)))
    fn("shingle_hashes",
      "shingle_hashes(tokens, shingleLen) - hash of every word shingle")(
      exprs => ShingleHashes(exprs.head, intArg(exprs, 1)))
    fn("hyperplane_lsh",
      "hyperplane_lsh(vec, nBits, seed) - random-hyperplane LSH bucket")(
      exprs => HyperplaneLsh(exprs.head, intArg(exprs, 1),
        longArg(exprs, 2, "hyperplane_lsh: seed")))
    fn("ascii_sum", "ascii_sum(str) - sum of UTF-8 byte values")(
      exprs => AsciiSum(exprs.head))
    fn("nfc_normalize", "nfc_normalize(str) - Unicode NFC normalization")(
      exprs => NfcNormalize(exprs.head))
    fn("interleave_bits",
      "interleave_bits(x, y) - Morton/Z-order encode of two 32-bit values")(
      exprs => InterleaveBits(Cast(exprs(0), LongType), Cast(exprs(1), LongType)))
    fn("byte_stride", "byte_stride(bin, n) - every n-th byte of a binary")(
      exprs => ByteStride(exprs.head, intArg(exprs, 1)))
    fn("winnow_fingerprints",
      "winnow_fingerprints(str, k, w) - winnowed k-gram fingerprint set")(
      exprs => WinnowFingerprints(exprs.head, intArg(exprs, 1), intArg(exprs, 2)))
    fn("bpe_encode", "bpe_encode(str) - planted-vocab subword token ids")(
      exprs => Bpe.BpeEncode(exprs.head))
    fn("bpe_encode_big",
      "bpe_encode_big(str) - subword token ids against the broadcast big vocab")(
      exprs => Bpe.BpeBigEncode(exprs.head, Bpe.bigVocabBc(active)))
    fn("fasttext_score",
      "fasttext_score(str) - linear quality score over hashed n-gram features")(
      exprs => FastText.FastTextScore(exprs.head, FastText.weightsBc(active)))
    fn("pq_encode", "pq_encode(vec) - struct(code, err) against the PQ codebook")(
      exprs => Pq.PqEncode(exprs.head, Pq.codebookBc(active)))
    fn("pq_lut", "pq_lut(vec) - ADC lookup table of a query vector")(
      exprs => Pq.PqLut(exprs.head, Pq.codebookBc(active)))
    fn("pq_coarse_dists",
      "pq_coarse_dists(vec) - squared-L2 distances to the coarse centroids")(
      exprs => Pq.PqCoarseDists(exprs.head, Pq.coarseBc(active)))
    fn("pq_residual_encode",
      "pq_residual_encode(vec) - struct(cell, code, err) of the residual PQ")(
      exprs => Pq.PqResidualEncode(exprs.head,
        Pq.coarseBc(active), Pq.codebookBc(active)))
    fn("pq_residual_lut",
      "pq_residual_lut(vec, cell) - residual ADC lookup table for one cell")(
      exprs => Pq.PqLutResidual(exprs(0), exprs(1),
        Pq.coarseBc(active), Pq.codebookBc(active)))
  }
}
