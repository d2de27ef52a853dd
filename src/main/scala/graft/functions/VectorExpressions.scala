package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import org.apache.spark.sql.types._

/** Native dot-product expression for embedding arrays.
  *
  * The declarative form (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`)
  * allocates two intermediate arrays and walks boxed lambda evaluators per
  * ROW-PAIR; inside a bucket self-join ([[graft.operators.Similarity]]) the
  * pair count is N×probes×bucketSize, so the kernel dominates the stage.
  * This expression is one allocation-free loop with `doGenCode`, keeping
  * the scoring projection inside whole-stage codegen — same motivation as
  * the reference's vectorized kernels, re-expressed as a Catalyst
  * expression instead of a hand-built operator.
  *
  * Semantics exactly match the HOF form it replaces: elements are cast to
  * double and accumulated LEFT-TO-RIGHT (so results are bit-identical to
  * the previous implementation and to DuckDB's `list_sum(list_transform
  * (list_zip(a,b), x -> x[1]::DOUBLE * x[2]::DOUBLE))` oracle), and the
  * result is NULL when either array is NULL, any element is NULL, or the
  * lengths differ (the HOF form yields NULL in those cases via null
  * propagation through `zip_with` padding).
  */
object VectorExpressions {

  /** Interpreted/codegen shared kernel. Returns a boxed Double or null. */
  def dotJava(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Σ (aᵢ-bᵢ)², same contract and accumulation order as [[dotJava]]. */
  def l2sqJava(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Shared machinery for the binary array-fold expressions. */
  sealed abstract class ArrayPairFold extends BinaryExpression {
    /** Fully-qualified static kernel, e.g. `...VectorExpressions.dotJava`. */
    protected def kernel: String
    protected def fold(a: ArrayData, b: ArrayData,
                       aF: Boolean, bF: Boolean): java.lang.Double

    // Element kind per side: Some(true)=float, Some(false)=double, None =
    // not directly foldable. Int/long/NULL arguments are cast to
    // array<double> by [[coerce]] in the constructors [[dotExpr]] and
    // [[l2sqExpr]], since declaring ExpectsInputTypes is not possible on
    // this Spark build (AbstractDataType is private[sql]).
    private def kind(e: Expression): Option[Boolean] = e.dataType match {
      case ArrayType(FloatType, _) => Some(true)
      case ArrayType(DoubleType, _) => Some(false)
      case _ => None
    }
    private lazy val lFloat = kind(left).getOrElse(fail(left))
    private lazy val rFloat = kind(right).getOrElse(fail(right))
    private def fail(e: Expression): Nothing =
      throw new IllegalArgumentException(
        s"$prettyName expects array<float> or array<double> children, got " +
          s"${e.dataType.simpleString}; build it through dotExpr " +
          "or l2sqExpr, which cast it")

    override def dataType: DataType = DoubleType
    // The kernel returns null for length mismatch / null elements even when
    // both inputs are non-null.
    override def nullable: Boolean = true

    override def nullSafeEval(a: Any, b: Any): Any =
      fold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lFloat, rFloat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val boxed = ctx.freshName("foldRes")
        s"""
           |java.lang.Double $boxed = $kernel($a, $b, $lFloat, $rFloat);
           |if ($boxed == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $boxed.doubleValue(); }
         """.stripMargin
      })
  }

  /** Argument coercion for the vector constructors: float/double arrays
    * pass through; every other argument (array<int>, array<long>, NULL
    * literals, …) is cast to array<double>, preserving the HOF form's
    * semantics — int arrays fold numerically, NULL stays NULL. [[Coerced]]
    * applies it once the arguments are resolved; an argument whose type is
    * still unknown is left bare.
    */
  private def coerce(e: Expression): Expression = {
    val needsCast =
      try e.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => false
        case _ => true
      } catch { case _: Exception => false } // unresolved: leave bare
    if (needsCast)
      org.apache.spark.sql.catalyst.expressions.Cast(
        e, ArrayType(DoubleType, containsNull = true))
    else e
  }

  /** dot_f(array<float|double>, array<float|double>) -> double. */
  case class DotProduct(left: Expression, right: Expression)
      extends ArrayPairFold {
    override def prettyName: String = "dot_f"
    override protected def kernel: String =
      "graft.functions.VectorExpressions.dotJava"
    override protected def fold(a: ArrayData, b: ArrayData,
                                aF: Boolean, bF: Boolean): java.lang.Double =
      dotJava(a, b, aF, bF)
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): DotProduct = copy(l, r)
  }

  /** l2sq_f(array<float|double>, array<float|double>) -> double. */
  case class L2Squared(left: Expression, right: Expression)
      extends ArrayPairFold {
    override def prettyName: String = "l2sq_f"
    override protected def kernel: String =
      "graft.functions.VectorExpressions.l2sqJava"
    override protected def fold(a: ArrayData, b: ArrayData,
                                aF: Boolean, bF: Boolean): java.lang.Double =
      l2sqJava(a, b, aF, bF)
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): L2Squared = copy(l, r)
  }

  /** Johnson–Lindenstrauss sign projection kernel: out[j] = Σ_d ±x_d,
    * sign from an arithmetic hash of (d·outDims + j + seed) — the same
    * LCG-multiplier hash as `Sampling.bucketHash`, so a SQL oracle
    * re-derives the exact matrix. Accumulation is d-ascending per output
    * dim (bit-identical to `list_sum(list_transform(range(...)))`).
    * Returns null if the input array is null or any element is null.
    */
  def signProjectJava(a: ArrayData, aFloat: Boolean, outDims: Int,
                      seed: Long): ArrayData = {
    val n = a.numElements()
    // Empty input -> null, matching the oracle form (DuckDB's list_sum of
    // an empty list is NULL, not 0): a zero-length embedding must not
    // silently project to the zero vector.
    if (n == 0) return null
    val out = new Array[Double](outDims)
    var j = 0
    while (j < outDims) {
      var acc = 0.0
      var d = 0
      while (d < n) {
        if (a.isNullAt(d)) return null
        val x = if (aFloat) a.getFloat(d).toDouble else a.getDouble(d)
        val h = ((d.toLong * outDims + j + seed) * 1103515245L) & 0xFFFFFFFFL
        acc += (if (h < 2147483648L) x else -x)
        d += 1
      }
      out(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** sign_project(array<float|double>, outDims, seed) -> array<double>:
    * the 4–16× dimensionality cut applied before ANN indexing at corpus
    * scale (JL lemma: random ±1 projections preserve pairwise geometry in
    * expectation). Codegen'd for the same hot-path reason as [[DotProduct]];
    * the deterministic hash-derived matrix means no driver-held state and
    * no broadcast — any executor (or engine) regenerates the same matrix.
    */
  case class SignProject(child: Expression, outDims: Int, seed: Long)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def prettyName: String = "sign_project"
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true

    private lazy val childFloat = child.dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case other => throw new IllegalArgumentException(
        s"sign_project expects array<float> or array<double>, got " +
          s"${other.simpleString}; cast the argument")
    }

    override def nullSafeEval(a: Any): Any =
      signProjectJava(a.asInstanceOf[ArrayData], childFloat, outDims, seed)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val res = ctx.freshName("projRes")
        s"""
           |org.apache.spark.sql.catalyst.util.ArrayData $res =
           |  graft.functions.VectorExpressions.signProjectJava(
           |    $a, $childFloat, $outDims, ${seed}L);
           |if ($res == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $res; }
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): SignProject =
      copy(child = c)
  }

  /** Builds its expression from the [[coerce]]d arguments once they are
    * resolved. A Column argument is usually still an unresolved attribute
    * when the accessor builds the expression, so its element type is
    * unknown until analysis; the optimizer then puts `replacement` in this
    * node's place, so every optimized and physical plan shows the coerced
    * expression itself.
    */
  private case class Coerced(children: Seq[Expression],
      override val prettyName: String, build: Seq[Expression] => Expression)
      extends Expression with RuntimeReplaceable {
    lazy val replacement: Expression = build(children.map(coerce))
    override protected def stringArgs: Iterator[Any] = children.iterator
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Coerced = copy(children = c)
  }

  /** Coerced constructors, shared by the Column accessors below and the
    * SQL builders in [[graft.engine.GraftExtensions]].
    */
  def dotExpr(a: Expression, b: Expression): Expression =
    Coerced(Seq(a, b), "dot_f", c => DotProduct(c(0), c(1)))
  def l2sqExpr(a: Expression, b: Expression): Expression =
    Coerced(Seq(a, b), "l2sq_f", c => L2Squared(c(0), c(1)))
  def signProjectExpr(a: Expression, outDims: Int, seed: Long): Expression =
    Coerced(Seq(a), "sign_project", c => SignProject(c(0), outDims, seed))

  def dotF(a: Column, b: Column): Column =
    column(dotExpr(expression(a), expression(b)))

  def l2sqF(a: Column, b: Column): Column =
    column(l2sqExpr(expression(a), expression(b)))

  def signProjectF(vec: Column, outDims: Int, seed: Long): Column =
    column(signProjectExpr(expression(vec), outDims, seed))
}
