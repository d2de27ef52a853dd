package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** RUNTIME NDV/null%-driven stage sizing: sizing decisions taken from
  * statistics measured on the data, not estimated from the plan.
  *
  * The reference's sampler measures per-column distinct% and null% on a
  * row sample and feeds them into stage-boundary sizing before the full
  * plan runs (`/root/reference/src/execution_plans/sampler.rs:38-563`,
  * `src/distributed_planner/prepare_dynamic_plan.rs:103-130`). Spark's AQE
  * re-sizes from measured map-output BYTES, which says nothing about key
  * cardinality: a 10-key aggregation and a 10M-key aggregation over the
  * same input bytes get the same initial fan-out. This object fills that
  * gap the Spark-idiomatic way:
  *
  *  1. [[keyStats]] — one narrow pre-pass over ONLY the key columns
  *     (column-pruned parquet scan, map-side-combined HLL partials, a
  *     single 1-row result on the driver): rows, approx NDV (±5% rsd),
  *     null fraction. At 100 TB this pass reads just the key column's
  *     pages — the same cost class as the reference's sampler pre-pass.
  *  2. [[sizedAggregate]] — picks the aggregation PLAN from the measured
  *     stats, not just a partition number:
  *     - low NDV (map-side combine collapses the input): plain two-phase
  *       `groupBy` — partial agg before the exchange does the real work,
  *       and AQE coalesces the tiny final stage. Forcing an explicit
  *       repartition here would shuffle RAW rows and lose the combine.
  *     - high NDV (>= `combineUsefulNdv`, where partial agg barely
  *       reduces): explicit `repartition(n, keys)` with
  *       n = ceil(ndv / targetKeysPerPartition), so each reduce task owns
  *       a bounded number of groups regardless of what the static conf
  *       guessed. This is the case AQE cannot fix: bytes-based coalescing
  *       only merges small partitions, it cannot split a hash-agg whose
  *       state exploded.
  *     - null-heavy keys (null fraction > `nullSkewThreshold`) with
  *       `dropNullKeys=true`: nulls are filtered BEFORE the shuffle —
  *       every null key hashes to one reducer, so a 30%-null key column
  *       is a guaranteed straggler the sampler can see coming.
  *
  * The chosen plan is returned together with [[SizingDecision]] so tests
  * (and operators) can assert WHY a shape was picked, mirroring the
  * reference's explain-able sampler decisions.
  */
object NdvSizing {

  /** Measured key statistics from the narrow pre-pass. */
  case class KeyStats(rows: Long, ndv: Long, nullFrac: Double)

  /** What [[sizedAggregate]] decided and why. */
  case class SizingDecision(stats: KeyStats, repartitioned: Boolean,
                            numPartitions: Int, droppedNullKeys: Boolean)

  /** One narrow pass over the key columns: total rows, approximate NDV of
    * the key tuple (HLL++, rsd 5%), and the fraction of rows where every
    * key column is null (the rows that would pile onto the null reducer).
    * The scan is column-pruned to `keys` — verify with `.explain`:
    * ReadSchema lists only the key columns.
    */
  def keyStats(df: DataFrame, keys: Seq[String]): KeyStats = {
    require(keys.nonEmpty, "keyStats needs at least one key column")
    val keyTuple: Column =
      if (keys.length == 1) col(keys.head) else struct(keys.map(col): _*)
    val allNull: Column = keys.map(col(_).isNull).reduce(_ && _)
    val row = df.select(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
           approx_count_distinct(keyTuple, 0.05).as("ndv"),
           count(when(allNull, lit(1))).as("nulls"))
      .head()
    val n = row.getLong(0)
    KeyStats(n, row.getLong(1),
      if (n == 0) 0.0 else row.getLong(2).toDouble / n)
  }

  /** NDV at which map-side combine stops paying for itself: below this,
    * partial aggregation collapses each map partition to at most this many
    * rows and the exchange is already tiny. Same role as the reference's
    * `prepare_dynamic_plan` boundary constants.
    */
  val combineUsefulNdv = 100000L

  /** Target number of distinct groups per reduce task on the high-NDV
    * path. 64k groups × a ~100-byte agg state row ≈ single-digit MiB of
    * hash-map state per task — safely in-memory at executor defaults.
    */
  val targetKeysPerPartition = 65536L

  /** Null fraction above which the all-null key rows are a predictable
    * single-reducer straggler worth a pre-shuffle filter.
    */
  val nullSkewThreshold = 0.05

  /** NDV-sized aggregation: measure the keys, pick the plan (see object
    * doc), run `aggs` grouped by `keys`. `maxPartitions` caps the computed
    * fan-out (pass the cluster's task budget).
    *
    * @param dropNullKeys filter rows whose every key is null before the
    *        shuffle when the measured null fraction crosses
    *        [[nullSkewThreshold]] — only legal when the caller does not
    *        need the null group (inner-join feeds, id-keyed rollups).
    */
  def sizedAggregate(df: DataFrame, keys: Seq[String], aggs: Seq[Column],
                     maxPartitions: Int = 4096,
                     dropNullKeys: Boolean = false,
                     combineNdvThreshold: Long = combineUsefulNdv,
                     keysPerPartition: Long = targetKeysPerPartition): (DataFrame, SizingDecision) = {
    require(aggs.nonEmpty, "sizedAggregate needs at least one aggregate")
    val stats = keyStats(df, keys)
    val dropNulls = dropNullKeys && stats.nullFrac > nullSkewThreshold
    val input =
      if (dropNulls) df.filter(keys.map(col(_).isNotNull).reduce(_ || _))
      else df
    val wantRepartition = stats.ndv >= combineNdvThreshold
    val n = math.max(1, math.min(maxPartitions.toLong,
      (stats.ndv + keysPerPartition - 1) / keysPerPartition)).toInt
    val shaped =
      if (wantRepartition) input.repartition(n, keys.map(col): _*)
      else input
    val out = shaped.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    (out, SizingDecision(stats, wantRepartition,
      if (wantRepartition) n else -1, dropNulls))
  }

  /** What [[sizedEquiJoin]] decided and why. */
  case class JoinSizingDecision(left: KeyStats, right: KeyStats,
                                broadcastRight: Boolean, numPartitions: Int)

  /** Average on-wire row width estimate from the schema (the sum of the
    * columns' `defaultSize`, at least 8 bytes), paired with a MEASURED row
    * count.
    */
  private def estimatedBytes(df: DataFrame, rows: Long): Long =
    rows * math.max(8, df.schema.fields.map(_.dataType.defaultSize).sum)

  /** NDV-sized inner equi-join — the join half of the reference sampler's
    * boundary sizing. Both sides' keys are measured (two narrow pre-passes);
    * the decisions, in order:
    *
    *  1. If the right side's measured rows × schema width fit under
    *     `broadcastBytes`, hint BROADCAST: a measured row count beats the
    *     file-size estimate Spark's static threshold uses (a 10 GB scan
    *     that filters to 10k rows broadcasts here; static planning can't
    *     see that, and AQE only converts after the first shuffle stage of
    *     the join materializes a map output it could have skipped).
    *  2. Otherwise shuffle both sides to n = ceil(max(ndvL, ndvR) /
    *     keysPerPartition) partitions on the key (bounded hash/sort state
    *     per task regardless of the static conf).
    *
    * Inner-join null keys never match, so Catalyst's own IsNotNull infer
    * already prunes them — measured nullFrac is reported in the decision
    * for observability, not acted on here.
    */
  def sizedEquiJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                    maxPartitions: Int = 4096,
                    broadcastBytes: Long = DefaultBroadcastBytes,
                    keysPerPartition: Long = targetKeysPerPartition): (DataFrame, JoinSizingDecision) = {
    val (ls, rs) = (keyStats(left, keys), keyStats(right, keys))
    if (estimatedBytes(right, rs.rows) <= broadcastBytes) {
      (left.join(org.apache.spark.sql.functions.broadcast(right), keys),
        JoinSizingDecision(ls, rs, broadcastRight = true, -1))
    } else {
      val n = math.max(1, math.min(maxPartitions.toLong,
        (math.max(ls.ndv, rs.ndv) + keysPerPartition - 1) / keysPerPartition)).toInt
      val cols = keys.map(col)
      (left.repartition(n, cols: _*).join(right.repartition(n, cols: _*), keys),
        JoinSizingDecision(ls, rs, broadcastRight = false, n))
    }
  }

  /** Default broadcast budget for the measured gates (the
    * [[sizedEquiJoin]] value, shared so operator call sites and specs
    * agree on one number).
    */
  val DefaultBroadcastBytes: Long = 32L * 1024 * 1024

  /** One-sided half of [[sizedEquiJoin]] — the measured-count broadcast
    * GATE: hint `broadcast(df)` only when the measured row count × schema
    * width fits under `broadcastBytes`, otherwise return `df` unhinted
    * and let the join shuffle. For operators whose "small" side is small
    * by CONSTRUCTION at fixture scale but merely an aggregate of the
    * input at corpus scale (one row per clip, one row per cluster…): a
    * forced hint there rests on Catalyst's size ESTIMATE of an aggregate
    * and an optimistic guess OOMs the driver at 100 TB, while the
    * measured count costs one narrow pre-pass — the same trade
    * [[sizedEquiJoin]] makes. Returns the (possibly hinted) frame plus
    * the measured rows for observability.
    */
  def measuredBroadcast(df: DataFrame,
                        broadcastBytes: Long = DefaultBroadcastBytes)
      : (DataFrame, Long) = {
    val rows = df.count()
    if (estimatedBytes(df, rows) <= broadcastBytes)
      (org.apache.spark.sql.functions.broadcast(df), rows)
    else (df, rows)
  }
}
