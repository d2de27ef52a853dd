package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.AppState

/** TRUE subword tokenization (planted-vocab greedy longest-match, the
  * WordPiece family) as a codegen'd Catalyst expression — replacing the
  * regex proxy ([[TextFunctions.bpeTokenCount]], "BPE-ish") wherever a
  * budget must match what a trainer's tokenizer actually sees.
  *
  * The vocabulary is PLANTED and tiny by design — the operator under test
  * is the greedy merge-table encode loop, not a production vocab:
  *  - 3-char pieces ids 50..55: the ing and ion ent her
  *  - 2-char pieces ids 40..49: th he in er an re on at en nd
  *  - single chars: a..z -> 1..26, 0..9 -> 27..36
  *  - UNK = 0 for any other character (consumed one CODEPOINT at a time,
  *    matching SQL `substr` semantics so the DuckDB oracle counts the
  *    same pieces for non-BMP input)
  *  - ' ' is the word separator and emits nothing; pieces contain no
  *    space, so matching within the full string equals matching per word.
  *
  * Matching is greedy longest-first (3, then 2, then 1) at each position —
  * the standard WordPiece scan, SQL-recomputable with a recursive CTE
  * (p78's oracle walks each word with the same 3/2/1 CASE ladder).
  * Callers pass pre-normalized text ([[TextFunctions.normText]]).
  *
  * Per-row, deterministic, allocation-light; `doGenCode` is a static
  * forwarder so the encode stays inside whole-stage codegen with the scan
  * around it (the [[HashExpressions.SimHash64]] pattern) — at 100 TB the
  * tokenize pass is a dominant narrow stage, like minhash signatures.
  */
object Bpe {

  private[functions] val Pieces3 = Array("the", "ing", "and", "ion", "ent", "her")
  private[functions] val Pieces2 =
    Array("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd")

  /** Runtime kernel (public: generated Java calls the static forwarder). */
  def bpeEncodeJava(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    val out = new java.util.ArrayList[Integer](math.max(8, n / 2))
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c == ' ') i += 1
      else {
        var matched = -1
        var step = 0
        if (i + 3 <= n) {
          var k = 0
          while (matched < 0 && k < Pieces3.length) {
            if (str.regionMatches(i, Pieces3(k), 0, 3)) { matched = 50 + k; step = 3 }
            k += 1
          }
        }
        if (matched < 0 && i + 2 <= n) {
          var k = 0
          while (matched < 0 && k < Pieces2.length) {
            if (str.regionMatches(i, Pieces2(k), 0, 2)) { matched = 40 + k; step = 2 }
            k += 1
          }
        }
        if (matched < 0) {
          if (c >= 'a' && c <= 'z') { matched = 1 + (c - 'a'); step = 1 }
          else if (c >= '0' && c <= '9') { matched = 27 + (c - '0'); step = 1 }
          else {
            // UNK consumes one CODEPOINT (surrogate pairs advance 2 chars)
            // so piece counts agree with codepoint-based SQL substr walks.
            matched = 0
            step = Character.charCount(str.codePointAt(i))
          }
        }
        out.add(matched)
        i += step
      }
    }
    val arr = new Array[Int](out.size())
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    new GenericArrayData(arr)
  }

  /** string -> array<int> of planted-vocab subword token ids. */
  case class BpeEncode(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "bpe_encode"

    override def nullSafeEval(input: Any): Any =
      bpeEncodeJava(input.asInstanceOf[UTF8String])

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Bpe.bpeEncodeJava($c)")

    override protected def withNewChildInternal(c: Expression): BpeEncode = copy(c)
  }

  /** Encode pre-normalized text (pass [[TextFunctions.normText]] output). */
  def bpeEncode(text: Column): Column = column(BpeEncode(expression(text)))

  /** True subword token count — the budget a trainer-faithful packer uses
    * (vs the regex proxy [[TextFunctions.bpeTokenCount]]).
    */
  def bpeCount(text: Column): Column =
    org.apache.spark.sql.functions.size(bpeEncode(text))

  // ------------------------------------------------------------------
  // Production-scale vocabulary variant: the same greedy longest-first
  // scan, but against a ~12k-entry merge table shipped to executors via
  // a genuine SparkContext.broadcast and probed with a packed-key hash
  // map — the real-vocab fan-out shape (a trainer vocab is DATA on the
  // wire, not code). The TABLE is generated closed-form so the DuckDB
  // oracle can rebuild membership arithmetically while the Spark side
  // exercises broadcast + hash probing:
  //  - pieces are all-lowercase-letter strings of length 2..4;
  //  - v(piece) = Σ (c_i - 'a') * 26^i (little-endian base-26);
  //  - member iff v % 2 == 0 (len 2, 338 pieces), v % 4 == 0 (len 3,
  //    4394 pieces), v % 64 == 0 (len 4, 7141 pieces);
  //  - id = 100 + v (len 2), 1000 + v (len 3), 20000 + v (len 4) —
  //    ranges disjoint by construction;
  //  - singles and UNK exactly as the small vocab (a..z -> 1..26,
  //    0..9 -> 27..36, UNK 0 per codepoint, ' ' separates).
  // ------------------------------------------------------------------

  /** Big-vocab sizes per piece length (divisor rule above). */
  private[functions] val BigDivs = Map(2 -> 2, 3 -> 4, 4 -> 64)
  private[functions] val BigBases = Map(2 -> 100, 3 -> 1000, 4 -> 20000)

  /** Packed probe key: length tag in the top byte, ascii chars little-
    * endian below — one long per probe window, no String allocation.
    */
  private def packKey(str: String, off: Int, len: Int): Long = {
    var key = len.toLong << 56
    var j = 0
    while (j < len) {
      val ch = str.charAt(off + j)
      if (ch > 127) return -1L
      key |= ch.toLong << (8 * j)
      j += 1
    }
    key
  }

  /** Deterministic ~12k-entry merge table (see rule above). Built once
    * per driver, broadcast once per application.
    */
  def buildBigVocab(): java.util.HashMap[java.lang.Long, Integer] = {
    val m = new java.util.HashMap[java.lang.Long, Integer](16384)
    var len = 2
    while (len <= 4) {
      val div = BigDivs(len)
      val base = BigBases(len)
      val span = math.pow(26, len).toInt
      var v = 0
      while (v < span) {
        val chars = new Array[Char](len)
        var rest = v
        var i = 0
        while (i < len) { chars(i) = ('a' + rest % 26).toChar; rest /= 26; i += 1 }
        val s = new String(chars)
        m.put(packKey(s, 0, len), base + v)
        v += div
      }
      len += 1
    }
    m
  }

  /** Runtime kernel for the big vocab: greedy longest-first (4, 3, 2)
    * hash probes against the broadcast table, then the single-char /
    * UNK ladder shared with the small kernel. Public static forwarder —
    * generated Java calls it with the broadcast-held map.
    */
  def bpeEncodeBigJava(s: UTF8String,
      vocab: java.util.HashMap[java.lang.Long, Integer]): ArrayData = {
    val str = s.toString
    val n = str.length
    val out = new java.util.ArrayList[Integer](math.max(8, n / 2))
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c == ' ') i += 1
      else {
        var matched = -1
        var step = 0
        var len = 4
        while (matched < 0 && len >= 2) {
          if (i + len <= n) {
            val key = packKey(str, i, len)
            if (key != -1L) {
              val id = vocab.get(key)
              if (id != null) { matched = id; step = len }
            }
          }
          len -= 1
        }
        if (matched < 0) {
          if (c >= 'a' && c <= 'z') { matched = 1 + (c - 'a'); step = 1 }
          else if (c >= '0' && c <= '9') { matched = 27 + (c - '0'); step = 1 }
          else {
            matched = 0
            step = Character.charCount(str.codePointAt(i))
          }
        }
        out.add(matched)
        i += step
      }
    }
    val arr = new Array[Int](out.size())
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    new GenericArrayData(arr)
  }

  /** string -> array<int> against the broadcast big vocab. The broadcast
    * handle rides the expression into codegen via `addReferenceObj` —
    * the encode stays inside whole-stage codegen while each executor
    * reads the table once from the torrent, exactly the production
    * vocab-distribution shape.
    */
  case class BpeBigEncode(child: Expression,
      vocab: org.apache.spark.broadcast.Broadcast[
        java.util.HashMap[java.lang.Long, Integer]])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "bpe_encode_big"

    override def nullSafeEval(input: Any): Any =
      bpeEncodeBigJava(input.asInstanceOf[UTF8String], vocab.value)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("bpeBigVocab", vocab,
        "org.apache.spark.broadcast.Broadcast")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.Bpe.bpeEncodeBigJava($c, " +
          s"(java.util.HashMap)$ref.value())")
    }

    override protected def withNewChildInternal(c: Expression): BpeBigEncode =
      copy(child = c)
  }

  private[graft] def bigVocabBc(spark: SparkSession) =
    AppState.memo(spark, "bpe.bigVocab")(
      spark.sparkContext.broadcast(buildBigVocab()))

  /** Encode pre-normalized text against the broadcast big vocab. */
  def bpeEncodeBig(text: Column): Column =
    column(BpeBigEncode(expression(text), bigVocabBc(SparkSession.active)))
}
