package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Group-level sketch aggregates (the custom typed-Aggregator extension
  * class — scalar custom functions live in [[HashExpressions]]).
  */
object Sketches {

  /** MinHash signature of the UNION of all token sets in a group: per
    * element, k derived hashes with a running min; merge = elementwise min.
    * Elementwise min is associative and commutative, so the result is
    * independent of partition order and merge tree shape — safe for
    * map-side partial aggregation at any scale, and deterministic enough
    * to verify against exact set jaccard.
    *
    * The k hash streams derive from `splitmix64(hash64(token) + i·GOLDEN)`
    * — its OWN hash family, deliberately not interchangeable with
    * [[HashExpressions.minhashMinima]] signatures (which chain through a
    * shingle seed); compare MinHashUnion sketches only with each other.
    * Group-vs-group `est_jaccard = matches/k` estimates the exact
    * token-set jaccard with stderr ≈ sqrt(j(1-j)/k).
    */
  case class MinHashUnion(k: Int)
      extends Aggregator[Seq[String], Array[Long], Seq[Long]] {

    private val GOLDEN = 0x9E3779B97F4A7C15L

    override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)

    override def reduce(buf: Array[Long], tokens: Seq[String]): Array[Long] = {
      tokens.foreach { t =>
        val base = HashExpressions.hash64(t.getBytes("UTF-8"))
        var acc = base
        var i = 0
        while (i < k) {
          val h = HashExpressions.splitmix64(acc)
          if (h < buf(i)) buf(i) = h
          acc += GOLDEN
          i += 1
        }
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < k) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }

    override def finish(r: Array[Long]): Seq[Long] = r.toSeq

    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }
}
