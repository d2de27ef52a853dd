package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus profiling: exact per-column statistics (row count, null count,
  * distinct count, lexicographic min/max) in a shape that scales to any
  * width × any cardinality — the `ANALYZE TABLE`-style pass every ingest of
  * a new 100 TB source starts with.
  *
  * Plan: melt the selected columns to (column, value) with one narrow
  * `explode` (no shuffle), then aggregate in TWO levels:
  * (column, value) → per-value counts, then (column) → the profile. The
  * first level is the only wide stage and its key space is
  * columns × distinct values, so the shuffle carries one row per distinct
  * value — not per input row — into the second level. No `Expand`-based
  * distinct aggregation, no per-column jobs: profiling 50 columns costs the
  * same two stages as profiling one.
  *
  * Values are profiled as strings (cast once in the melt) so heterogeneous
  * columns share one schema; callers pick columns whose string form is
  * engine-portable (ints, strings, dates — not floats, whose formatting is
  * engine-specific).
  */
object Profile {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val melted = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*)).as("kv"))
      .select(col("kv.col_name").as("col_name"), col("kv.v").as("v"))
    melted
      .groupBy(col("col_name"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("col_name"))
      .agg(
        sum(col("cnt")).as("n_rows"),
        coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_null"),
        count(when(col("v").isNotNull, lit(1))).as("n_distinct"),
        min(col("v")).as("min_value"),
        max(col("v")).as("max_value"))
  }

  /** Percent-rank of `valueCol` WITHIN each `groupCol` group — the robust
    * per-source normalization curation thresholds need: "drop docs below
    * the 5th length percentile of THEIR source" keeps a code-heavy source
    * and a prose source each on their own scale, where one global
    * threshold would gut whichever source skews short. Ties share a rank
    * (pure function of the data); a single-row group ranks 0.0. Null
    * values sort LAST (highest ranks) — matching the SQL-standard /
    * DuckDB percent_rank default, where Spark's own default is NULLS
    * FIRST and would hand nulls the lowest percentiles.
    *
    * Shape: one shuffle on the group key, then a per-group sorted window —
    * work per group is linear. A pathologically dominant single group
    * funnels through one task; at that scale compute the ranks with the
    * two-phase prefix-sum pattern ([[graft.operators.Sampling.packByBudget]])
    * keyed by (group, value) instead.
    */
  def percentRankWithin(df: DataFrame, groupCol: String,
                        valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("pct", round(
      percent_rank().over(
        Window.partitionBy(col(groupCol))
          .orderBy(col(valueCol).asc_nulls_last)), 6))
  }

  /** Join/partition-key skew report: the top-`k` heaviest values of
    * `keyCol` with their row counts, corpus share, and skew factor
    * (count / mean-count-per-distinct-value). The question every shuffle
    * plan at 100 TB hangs on — "is this key safe to partition by, or does
    * one value own a reducer?" — answered BEFORE the job runs; AQE's
    * skew-join split handles the flagged values at run time.
    *
    * Shape: one map-side-combined (key) count — shuffle carries one row
    * per distinct key — then the corpus totals fold in from a single-row
    * aggregate and a TakeOrderedAndProject keeps the top-k; nulls count as
    * a key (a mostly-null join column is the worst skew of all). Ties
    * break by key string for determinism.
    */
  def skewReport(df: DataFrame, keyCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n"))
    // Totals stay IN the plan (1-row cross join, broadcast by AQE) instead
    // of an eager .head(): no driver-blocking job at construction time, and
    // the identical aggregation subtree below both sides lets Spark reuse
    // the exchange rather than scanning df twice. Same IEEE op order as
    // the oracle: n / total and n / (total / nd). Empty input yields an
    // empty report (cross join with the 1-row totals of nothing).
    val totals = counts.agg(sum(col("n")).as("__total"),
      count(lit(1)).cast("double").as("__nd"))
    counts.crossJoin(totals)
      .orderBy(col("n").desc, col("key"))
      .limit(k)
      .select(col("key"), col("n"),
        round(col("n").cast("double") / col("__total").cast("double"), 6)
          .as("share"),
        round(col("n").cast("double") /
          (col("__total").cast("double") / col("__nd")), 6).as("skew_factor"))
  }
}
