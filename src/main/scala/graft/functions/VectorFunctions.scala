package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, built from Spark's
  * codegen'd higher-order functions (`zip_with`/`aggregate`/`transform`) —
  * no UDFs, fully distributable per-row expressions.
  *
  * All arithmetic is double-precision with left-to-right accumulation so the
  * result is deterministic for a given element order.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ as doubles, left-to-right — a codegen'd native expression
    * ([[VectorExpressions.DotProduct]]); bit-identical to the HOF form
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` it replaced, without the
    * two intermediate arrays per evaluated pair.
    */
  def dot(a: Column, b: Column): Column = VectorExpressions.dotF(a, b)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine from a precomputed-norm pair: join-side kernel. Inside a bucket
    * join the norms are per-VECTOR quantities — computing them once per
    * side before the join (`norm2` on a narrow projection) instead of per
    * candidate PAIR removes two thirds of the scoring work; the quotient is
    * bit-identical because `norm2` is the same expression either way.
    */
  def cosineFromNorms(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Σ (aᵢ-bᵢ)² — codegen'd native expression, same accumulation order as
    * the HOF form it replaced.
    */
  def l2Squared(a: Column, b: Column): Column = VectorExpressions.l2sqF(a, b)
}
