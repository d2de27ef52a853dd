package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import org.apache.spark.sql.graft.Shared
import org.apache.spark.sql.types._

import graft.engine.AppState

/** Product quantization (PQ) for embedding vectors — the standard
  * vector-store compression behind large-scale ANN (Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search", PAMI 2011; the
  * IVF-PQ layout every FAISS-class system ships): split a D-dim vector
  * into [[M]] contiguous sub-vectors, snap each to its nearest of [[K]]
  * per-subspace centroids, and keep only the M small code indices —
  * here 8×4 bits = one long per vector instead of 64 floats (64×
  * smaller). Queries never decompress: asymmetric distance (ADC)
  * precomputes one M×K lookup table per query and scores a candidate
  * with M table probes.
  *
  * Model definition (documented exactly because a DuckDB oracle
  * recomputes every code and distance arithmetically):
  *  - D = 64, M = 8 sub-vectors of SubDim = 8 dims, K = 16 centroids
  *    per subspace → 4-bit codes, packed little-endian into one long:
  *    Σ code_m << 4m.
  *  - codebook: the PLANTED closed-form table
  *    c(m,k,j) = (((m·7 + k·13 + j·29) mod 41) − 20) / 20.0 ∈ [−1, 1] —
  *    generated once on the driver, shipped via a genuine
  *    `SparkContext.broadcast` (the [[Bpe.BpeBigEncode]] /
  *    [[FastText]] shape: a production codebook is trained offline and
  *    is DATA on the wire, not code).
  *  - code_m = argmin_k Σ_j (v[m·8+j] − c(m,k,j))², double arithmetic,
  *    j-ascending summation, FIRST minimum on ties (strict `<` — the
  *    SQL `list_position(l, list_min(l))` rule).
  *  - reconstruction err = Σ_m (that minimum), m-ascending summation.
  *  - ADC(q, x) = Σ_m lut_q[m·16 + code_m(x)] where
  *    lut_q[m·16+k] = Σ_j (q[m·8+j] − c(m,k,j))² — the identical
  *    operation sequence, so lookup and recompute are bit-equal.
  *
  * Scale shape: encoding is a narrow, shuffle-free, whole-stage-codegen
  * map (the broadcast handle rides into generated code via
  * `addReferenceObj`); each executor reads the codebook once from the
  * torrent. The corpus side of an ADC search scans 8-byte codes — at
  * 100 TB of raw embeddings that is the difference between a
  * memory-resident candidate set and an I/O-bound one; the query side
  * broadcasts (qid, 128-double LUT) rows.
  */
object Pq {

  /** Sub-vector count (codes per vector). */
  val M = 8

  /** Dimensions per sub-vector; input dim = M × SubDim = 64. */
  val SubDim = 8

  /** Centroids per subspace → 4-bit codes. */
  val K = 16

  /** Input dimensionality the codebook covers. */
  val Dim: Int = M * SubDim

  /** The planted closed-form codebook, flat-indexed (m·K + k)·SubDim + j
    * — so the oracle rebuilds any entry arithmetically:
    * c(m,k,j) = (((m·7 + k·13 + j·29) mod 41) − 20) / 20.0.
    */
  def buildCodebook(): Array[Double] = {
    val cb = new Array[Double](M * K * SubDim)
    var m = 0
    while (m < M) {
      var k = 0
      while (k < K) {
        var j = 0
        while (j < SubDim) {
          cb((m * K + k) * SubDim + j) =
            (((m * 7 + k * 13 + j * 29) % 41) - 20) / 20.0
          j += 1
        }
        k += 1
      }
      m += 1
    }
    cb
  }

  /** Runtime encode kernel (public: generated Java calls it). Returns
    * (packed codes long, reconstruction err double) as an InternalRow,
    * or null when the vector is shorter than [[Dim]] (one malformed row
    * must not kill a 100 TB pass — the `decoded=false` convention).
    * Float elements widen to double exactly; summation order and the
    * first-minimum tie rule mirror the oracle's `list_sum` /
    * `list_position` semantics bit-for-bit.
    */
  def encodeJava(v: ArrayData, cb: Array[Double]): InternalRow = {
    if (v == null || v.numElements() < Dim) return null
    var packed = 0L
    var err = 0.0
    var m = 0
    while (m < M) {
      var bestK = 0
      var bestD = Double.MaxValue
      var k = 0
      while (k < K) {
        var d = 0.0
        var j = 0
        while (j < SubDim) {
          val x = v.getFloat(m * SubDim + j).toDouble -
            cb((m * K + k) * SubDim + j)
          d += x * x
          j += 1
        }
        if (d < bestD) { bestD = d; bestK = k }
        k += 1
      }
      packed |= bestK.toLong << (4 * m)
      err += bestD
      m += 1
    }
    new GenericInternalRow(Array[Any](packed, err))
  }

  /** Runtime LUT kernel: the M×K ADC table for one query vector, flat
    * m·K + k — each entry by the exact operation sequence [[encodeJava]]
    * uses, so `lut[m·16 + code]` equals a direct recompute bit-for-bit.
    */
  def lutJava(v: ArrayData, cb: Array[Double]): ArrayData = {
    if (v == null || v.numElements() < Dim) return null
    val lut = new Array[Double](M * K)
    var m = 0
    while (m < M) {
      var k = 0
      while (k < K) {
        var d = 0.0
        var j = 0
        while (j < SubDim) {
          val x = v.getFloat(m * SubDim + j).toDouble -
            cb((m * K + k) * SubDim + j)
          d += x * x
          j += 1
        }
        lut(m * K + k) = d
        k += 1
      }
      m += 1
    }
    new GenericArrayData(lut)
  }

  /** Analysis-time input validation shared by every PQ expression whose
    * kernel reads the vector with `ArrayData.getFloat`: anything but
    * array<float> must fail CLEANLY at analysis, not as a runtime
    * ClassCastException / silent garbage mid-scan. (`ExpectsInputTypes`
    * is not declarable on this build — `AbstractDataType` is
    * private[sql], the [[VectorExpressions.ArrayPairFold]] precedent —
    * so the check is a `checkInputDataTypes` override.)
    */
  private[functions] trait FloatVecInput { self: Expression =>
    protected def vecChild: Expression
    override def checkInputDataTypes(): TypeCheckResult =
      vecChild.dataType match {
        case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
        case t => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects an array<float> embedding, got " +
            s"${t.simpleString}")
      }
  }

  /** embedding → struct(code long, err double) against the broadcast
    * codebook; rides whole-stage codegen via `addReferenceObj`.
    */
  case class PqEncode(child: Expression,
      codebook: org.apache.spark.broadcast.Broadcast[Array[Double]])
      extends UnaryExpression with FloatVecInput {
    override protected def vecChild: Expression = child
    override def dataType: DataType = StructType(Seq(
      StructField("code", LongType, nullable = false),
      StructField("err", DoubleType, nullable = false)))
    override def nullable: Boolean = true
    override def prettyName: String = "pq_encode"

    override def nullSafeEval(input: Any): Any =
      encodeJava(input.asInstanceOf[ArrayData], codebook.value)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("pqCodebook", codebook,
        "org.apache.spark.broadcast.Broadcast")
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.Pq.encodeJava($c, (double[])$ref.value());
        ${ev.isNull} = ${ev.value} == null;""")
    }

    override protected def withNewChildInternal(c: Expression): PqEncode =
      copy(child = c)
  }

  /** embedding → M×K ADC lookup table (array of doubles, flat m·K + k). */
  case class PqLut(child: Expression,
      codebook: org.apache.spark.broadcast.Broadcast[Array[Double]])
      extends UnaryExpression with FloatVecInput {
    override protected def vecChild: Expression = child
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "pq_lut"

    override def nullSafeEval(input: Any): Any =
      lutJava(input.asInstanceOf[ArrayData], codebook.value)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("pqCodebook", codebook,
        "org.apache.spark.broadcast.Broadcast")
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.Pq.lutJava($c, (double[])$ref.value());
        ${ev.isNull} = ${ev.value} == null;""")
    }

    override protected def withNewChildInternal(c: Expression): PqLut =
      copy(child = c)
  }

  /** Coarse-quantizer cell count (the IVF `nlist` analog). */
  val CoarseK = 16

  /** The planted closed-form COARSE codebook (full-dimension centroids —
    * the IVF layer above the PQ codes), flat-indexed l·Dim + j:
    * C(l,j) = (((l·17 + j·23) mod 37) − 18) / 18.0.
    */
  def buildCoarseCodebook(): Array[Double] =
    Array.tabulate(CoarseK * Dim) { idx =>
      val l = idx / Dim
      val j = idx % Dim
      (((l * 17 + j * 23) % 37) - 18) / 18.0
    }

  /** Runtime coarse-distance kernel: the CoarseK squared L2 distances of
    * one vector to every coarse centroid, l-ascending, each a j-ascending
    * double summation — from this one array both sides of IVF derive:
    * the corpus assignment (first-minimum argmin) and a query's probe
    * list (the nProbe smallest).
    */
  def coarseDistsJava(v: ArrayData, cb: Array[Double]): ArrayData = {
    if (v == null || v.numElements() < Dim) return null
    val out = new Array[Double](CoarseK)
    var l = 0
    while (l < CoarseK) {
      var d = 0.0
      var j = 0
      while (j < Dim) {
        val x = v.getFloat(j).toDouble - cb(l * Dim + j)
        d += x * x
        j += 1
      }
      out(l) = d
      l += 1
    }
    new GenericArrayData(out)
  }

  /** embedding → CoarseK-entry squared-L2 distance array to the coarse
    * centroids (the IVF assignment/probe substrate).
    */
  case class PqCoarseDists(child: Expression,
      codebook: org.apache.spark.broadcast.Broadcast[Array[Double]])
      extends UnaryExpression with FloatVecInput {
    override protected def vecChild: Expression = child
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "pq_coarse_dists"

    override def nullSafeEval(input: Any): Any =
      coarseDistsJava(input.asInstanceOf[ArrayData], codebook.value)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("pqCoarseCodebook", codebook,
        "org.apache.spark.broadcast.Broadcast")
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.Pq.coarseDistsJava($c, (double[])$ref.value());
        ${ev.isNull} = ${ev.value} == null;""")
    }

    override protected def withNewChildInternal(c: Expression): PqCoarseDists =
      copy(child = c)
  }

  /** Runtime residual-encode kernel: assign the coarse cell (first-min
    * argmin over [[buildCoarseCodebook]]), then PQ-encode the RESIDUAL
    * v − C(cell) — the production IVF-PQ layout (FAISS `IndexIVFPQ`):
    * residuals concentrate near zero so the same 4-bit budget spends on
    * the part of the vector the coarse layer didn't explain. Operation
    * order documented for the oracle: residual element =
    * (v[j] − C(cell,j)) first, then − c(m,k,j) — two left-assoc double
    * subtractions, exactly the SQL `(emb − C_expr) − c_expr`.
    * Returns (cell int, packed codes long, reconstruction err double).
    */
  def residualEncodeJava(v: ArrayData, coarse: Array[Double],
                         cb: Array[Double]): InternalRow = {
    if (v == null || v.numElements() < Dim) return null
    var cell = 0
    var cellD = Double.MaxValue
    var l = 0
    while (l < CoarseK) {
      var d = 0.0
      var j = 0
      while (j < Dim) {
        val x = v.getFloat(j).toDouble - coarse(l * Dim + j)
        d += x * x
        j += 1
      }
      if (d < cellD) { cellD = d; cell = l }
      l += 1
    }
    var packed = 0L
    var err = 0.0
    var m = 0
    while (m < M) {
      var bestK = 0
      var bestD = Double.MaxValue
      var k = 0
      while (k < K) {
        var d = 0.0
        var j = 0
        while (j < SubDim) {
          val dim = m * SubDim + j
          val x = (v.getFloat(dim).toDouble - coarse(cell * Dim + dim)) -
            cb((m * K + k) * SubDim + j)
          d += x * x
          j += 1
        }
        if (d < bestD) { bestD = d; bestK = k }
        k += 1
      }
      packed |= bestK.toLong << (4 * m)
      err += bestD
      m += 1
    }
    new GenericInternalRow(Array[Any](cell, packed, err))
  }

  /** Runtime residual-ADC LUT kernel: the M×K table for one query
    * AGAINST ONE CELL — lut[m·K+k] = Σ_j ((q[j'] − C(cell,j')) −
    * c(m,k,j))², the identical operation sequence [[residualEncodeJava]]
    * uses, so probe and recompute are bit-equal.
    */
  def lutResidualJava(v: ArrayData, cell: Int, coarse: Array[Double],
                      cb: Array[Double]): ArrayData = {
    if (v == null || v.numElements() < Dim || cell < 0 || cell >= CoarseK)
      return null
    val lut = new Array[Double](M * K)
    var m = 0
    while (m < M) {
      var k = 0
      while (k < K) {
        var d = 0.0
        var j = 0
        while (j < SubDim) {
          val dim = m * SubDim + j
          val x = (v.getFloat(dim).toDouble - coarse(cell * Dim + dim)) -
            cb((m * K + k) * SubDim + j)
          d += x * x
          j += 1
        }
        lut(m * K + k) = d
        k += 1
      }
      m += 1
    }
    new GenericArrayData(lut)
  }

  /** embedding → struct(cell int, code long, err double) — residual
    * IVF-PQ encode against both broadcast codebooks.
    */
  case class PqResidualEncode(child: Expression,
      coarse: org.apache.spark.broadcast.Broadcast[Array[Double]],
      codebook: org.apache.spark.broadcast.Broadcast[Array[Double]])
      extends UnaryExpression with FloatVecInput {
    override protected def vecChild: Expression = child
    override def dataType: DataType = StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("code", LongType, nullable = false),
      StructField("err", DoubleType, nullable = false)))
    override def nullable: Boolean = true
    override def prettyName: String = "pq_residual_encode"

    override def nullSafeEval(input: Any): Any =
      residualEncodeJava(input.asInstanceOf[ArrayData], coarse.value,
        codebook.value)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val cRef = ctx.addReferenceObj("pqCoarseCodebook", coarse,
        "org.apache.spark.broadcast.Broadcast")
      val ref = ctx.addReferenceObj("pqCodebook", codebook,
        "org.apache.spark.broadcast.Broadcast")
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.Pq.residualEncodeJava($c,
          (double[])$cRef.value(), (double[])$ref.value());
        ${ev.isNull} = ${ev.value} == null;""")
    }

    override protected def withNewChildInternal(c: Expression)
      : PqResidualEncode = copy(child = c)
  }

  /** Long-cell entry point ([[PqLutResidual]] accepts BIGINT cells from
    * SQL): bounds-check BEFORE narrowing so an out-of-Int-range value
    * degrades to null like any other invalid cell, never a silent
    * truncated probe.
    */
  def lutResidualJava(v: ArrayData, cell: Long, coarse: Array[Double],
                      cb: Array[Double]): ArrayData =
    if (cell < 0 || cell >= CoarseK) null
    else lutResidualJava(v, cell.toInt, coarse, cb)

  /** (embedding, cell) → per-cell residual ADC lookup table. The cell
    * argument accepts INT or BIGINT (a SQL literal like `2` arrives as
    * int, a joined probe column may be bigint); any other type fails at
    * analysis via [[FloatVecInput]]-style checks instead of a runtime
    * ClassCastException.
    */
  case class PqLutResidual(left: Expression, right: Expression,
      coarse: org.apache.spark.broadcast.Broadcast[Array[Double]],
      codebook: org.apache.spark.broadcast.Broadcast[Array[Double]])
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with FloatVecInput {
    override protected def vecChild: Expression = left
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "pq_residual_lut"

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(FloatType, _), IntegerType | LongType) =>
          TypeCheckResult.TypeCheckSuccess
        case (ArrayType(FloatType, _), t) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects an int or bigint cell, got ${t.simpleString}")
        case (t, _) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects an array<float> embedding, got " +
            s"${t.simpleString}")
      }

    override def nullSafeEval(v: Any, cell: Any): Any =
      lutResidualJava(v.asInstanceOf[ArrayData],
        cell.asInstanceOf[Number].longValue(), coarse.value, codebook.value)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val cRef = ctx.addReferenceObj("pqCoarseCodebook", coarse,
        "org.apache.spark.broadcast.Broadcast")
      val ref = ctx.addReferenceObj("pqCodebook", codebook,
        "org.apache.spark.broadcast.Broadcast")
      nullSafeCodeGen(ctx, ev, (v, cell) => s"""
        ${ev.value} = graft.functions.Pq.lutResidualJava($v, $cell,
          (double[])$cRef.value(), (double[])$ref.value());
        ${ev.isNull} = ${ev.value} == null;""")
    }

    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): PqLutResidual = copy(left = l, right = r)
  }

  private[graft] def codebookBc(spark: SparkSession) =
    AppState.memo(spark, "pq.codebook")(
      spark.sparkContext.broadcast(buildCodebook()))

  private[graft] def coarseBc(spark: SparkSession) =
    AppState.memo(spark, "pq.coarse")(
      spark.sparkContext.broadcast(buildCoarseCodebook()))

  /** Encode against a TRAINED codebook broadcast (several trained
    * codebooks may coexist in one session). Same kernel, same WSCG shape
    * as the planted-table path.
    */
  def encodeWith(vec: Column,
      bc: org.apache.spark.broadcast.Broadcast[Array[Double]]): Column =
    column(PqEncode(expression(vec), bc))

  /** ADC lookup table against a TRAINED codebook broadcast. */
  def lutWith(vec: Column,
      bc: org.apache.spark.broadcast.Broadcast[Array[Double]]): Column =
    column(PqLut(expression(vec), bc))

  /** A trained product quantizer: `codebook` in the [[buildCodebook]]
    * flat layout, `snapshots(t)` after iteration t (0 = seeds),
    * `inertia(t-1)` = Σ round(reconstruction err, 6) of iteration t's
    * assignment against snapshots(t-1) (DECIMAL-summed — the Lloyd
    * descent diagnostic), `bc` the final codebook's live broadcast.
    */
  case class TrainedPq(codebook: Array[Double],
                       snapshots: Seq[Array[Double]], inertia: Seq[Double],
                       bc: org.apache.spark.broadcast.Broadcast[Array[Double]])

  /** Per-subspace k-means TRAINING of the PQ codebook (how FAISS trains
    * its product subquantizers — M independent Lloyd runs over the
    * sub-vectors, here folded into ONE distributed pass per iteration):
    * seeds are the K scrambled-key-ranked corpus vectors' sub-vectors
    * (c0(m,k,j) = seed_k[m·8+j], the [[graft.functions.KMeans]] seed
    * rule), assignment is the audited [[encodeJava]] kernel against the
    * current broadcast (first-min argmin, j-ascending sums), means are
    * the p27 decimal(18,9)-exact / round-6 rule per (m, cell, j), and
    * empty cells carry. Deterministic and SQL-recomputable end to end.
    *
    * Scale shape: per iteration ONE narrow WSCG encode scan + one
    * aggregation whose map-side combine bounds the shuffle at
    * M·K·SubDim rows per partition, then a ≤1024-row driver exchange —
    * the k-means model-fitting loop at PQ granularity. The inertia rides
    * in the same aggregate: each cell's DECIMAL sum on its (m = 0, j = 0)
    * row, added exactly on the driver ([[KMeans.exactInertia]]).
    *
    * `sampleFraction` < 1 trains on the deterministic hash-sample,
    * [[Shared]] across iterations — the [[graft.functions.KMeans.train]]
    * sampling contract (FAISS trains subquantizers on a sample too);
    * the full-corpus default stays unshared for fixture-exact
    * oracles.
    */
  def train(df: org.apache.spark.sql.DataFrame, idCol: String,
            vecCol: String, iters: Int,
            sampleFraction: Double = 1.0): TrainedPq = {
    import org.apache.spark.sql.functions._
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction=$sampleFraction out of (0,1]")
    val spark = df.sparkSession
    val all = df.filter(col(vecCol).isNotNull && size(col(vecCol)) >= Dim)
    val sampled = sampleFraction < 1.0
    val valid =
      if (sampled)
        Shared(graft.operators.Sampling
          .deterministicSample(all, idCol, sampleFraction)
          .select(col(idCol), col(vecCol)))
      else all
    try trainOn(valid, spark, idCol, vecCol, iters)
    finally if (sampled) Shared.release(valid)
  }

  private def trainOn(valid: org.apache.spark.sql.DataFrame,
                      spark: SparkSession, idCol: String,
                      vecCol: String, iters: Int): TrainedPq = {
    import org.apache.spark.sql.functions._
    val seeds = valid
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        ((col(idCol) * lit(2654435761L)) % lit(4294967296L)).as("__key"))
      .orderBy(col("__key"), col("__id"))
      .limit(K)
      .collect()
    val init = new Array[Double](M * K * SubDim)
    seeds.zipWithIndex.foreach { case (r, k) =>
      val v = r.getSeq[Float](1)
      var m = 0
      while (m < M) {
        var j = 0
        while (j < SubDim) {
          init((m * K + k) * SubDim + j) = v(m * SubDim + j).toDouble
          j += 1
        }
        m += 1
      }
    }
    // [[encodeJava]] loops a fixed K cells, so a corpus with fewer than
    // K valid vectors cannot seed a well-formed codebook — it yields an
    // empty model (FAISS likewise refuses ntrain < k; the EmptySweep
    // contract: degrade, don't throw).
    var cur = if (seeds.length < K) Array.empty[Double] else init
    val snapshots = Seq.newBuilder[Array[Double]]
    val inertias = Seq.newBuilder[Double]
    snapshots += cur
    if (cur.nonEmpty) {
      var t = 1
      while (t <= iters) {
        val bc = spark.sparkContext.broadcast(cur)
        val enc = encodeWith(col("__v"), bc)
        val assigned = valid.select(col(vecCol).as("__v"))
          .select(col("__v"), enc.getField("code").as("__code"),
            round(enc.getField("err"), 6)
              .cast(org.apache.spark.sql.types.DecimalType(38, 6))
              .as("__e"))
        // One aggregate per iteration: each (m = 0, j = 0) row also
        // carries its cell's inertia, so the frame is scanned and encoded
        // once.
        val rows = assigned
          .select(col("__v"), col("__e"), explode(expr(
            s"transform(sequence(0, ${M - 1}), m -> struct(" +
              "CAST(m AS int) AS m, " +
              "CAST(shiftright(__code, m * 4) % 16 AS int) AS cell))"))
            .as("__mc"))
          .select(col("__mc.m").as("__m"), col("__mc.cell").as("__cell"),
            col("__e"),
            posexplode(slice(col("__v"),
              col("__mc.m") * lit(SubDim) + 1, lit(SubDim)))
              .as(Seq("__j", "__e2")))
          .groupBy(col("__m"), col("__cell"), col("__j"))
          .agg((sum(col("__e2")
            .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
            .cast("double") / count(lit(1))).as("__raw"),
            sum(when(col("__m") === 0 && col("__j") === 0, col("__e")))
              .as("__in"))
          .select(col("__m"), col("__cell"), col("__j"),
            round(col("__raw"), 6).as("__cv"), col("__in"))
          .collect()
        inertias += KMeans.exactInertia(rows, 4)
        val next = cur.clone()
        rows.foreach { r =>
          next((r.getInt(0) * K + r.getInt(1)) * SubDim + r.getInt(2)) =
            r.getDouble(3)
        }
        // This iteration's codebook broadcast is dead weight on the
        // executors once the next codebook exists (non-blocking: the
        // aggregate above has completed).
        bc.unpersist(blocking = false)
        cur = next
        snapshots += next
        t += 1
      }
    }
    TrainedPq(cur, snapshots.result(), inertias.result(),
      spark.sparkContext.broadcast(cur))
  }

  /** Encode a float-array embedding column → struct(code, err). */
  def encode(vec: Column): Column =
    column(PqEncode(expression(vec), codebookBc(SparkSession.active)))

  /** ADC lookup table for a float-array query column. */
  def lut(vec: Column): Column =
    column(PqLut(expression(vec), codebookBc(SparkSession.active)))

  /** Coarse-centroid distance array for a float-array column. */
  def coarseDists(vec: Column): Column =
    column(PqCoarseDists(expression(vec), coarseBc(SparkSession.active)))

  /** Residual IVF-PQ encode: struct(cell, code, err). */
  def residualEncode(vec: Column): Column = {
    val spark = SparkSession.active
    column(PqResidualEncode(expression(vec), coarseBc(spark), codebookBc(spark)))
  }

  /** Per-cell residual ADC LUT for a (query vec, probed cell) pair. */
  def residualLut(vec: Column, cell: Column): Column = {
    val spark = SparkSession.active
    column(PqLutResidual(expression(vec), expression(cell),
      coarseBc(spark), codebookBc(spark)))
  }
}
