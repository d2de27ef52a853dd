package graft.tools

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.engine.GraftSession

/** Out-of-core proof: heavy corpus queries re-run under a deliberately
  * starved spill configuration must (a) actually SPILL (task-metric
  * spilled bytes > 0) and (b) produce results identical to the default
  * run.
  *
  * Why this exists: at 100 TB the sort/agg/join paths WILL exceed
  * executor memory, and an engine is only scale-ready if its operators
  * degrade to disk instead of OOMing — and produce the same answer when
  * they do. The reference delegates this to DataFusion's memory pools
  * (`/root/reference/src/execution_plans/broadcast.rs` registers a
  * `MemoryConsumer`); Spark's spill machinery is native
  * (`UnsafeExternalSorter`, `ExternalAppendOnlyUnsafeRowArray`), but
  * until round 11 nothing in the corpus ever exercised it — every bench
  * breakdown showed `spill_b: 0`, leaving the last scale dimension
  * untested.
  *
  * Mechanism — two sessions in one JVM, because the levers live at two
  * levels:
  *  1. Baseline context with the engine's default conf: collect each
  *     query's rows (order-insensitive exact hash).
  *  2. Starved context: `spark.shuffle.spill.numElementsForceSpillThreshold`
  *     is a CONTEXT-level conf read by every `UnsafeExternalSorter`
  *     creation site (sorts, sort-based aggregation fallback, shuffle
  *     writers), so it must be set at context build; the
  *     `ExternalAppendOnlyUnsafeRowArray` row-count thresholds
  *     (`sortMergeJoinExec`/`windowExec`/`sessionWindow`/
  *     `cartesianProductExec` `.buffer.spill.threshold`) are session
  *     confs, also forced low; `autoBroadcastJoinThreshold=-1` pushes
  *     equi-joins through the sort-merge (buffered, spillable) path so
  *     the join-side spill machinery is actually on the plan.
  *
  * Forcing by ROW COUNT rather than a tiny heap keeps the proof
  * deterministic across machines while exercising the identical
  * spill-and-merge code paths a memory-pressure spill takes (the
  * threshold feeds the same `spill()` call the memory manager uses).
  *
  * Result identity is a fair ask because every float aggregate in the
  * engine uses exact decimal accumulation (`Relational.dsum`) — results
  * are partition-order and merge-order independent by design, so a
  * spill-induced change in accumulation order must not change a single
  * bit (the same invariant FloatAudit proves across shuffle layouts).
  *
  * Usage: `runMain graft.tools.SpillProof [sfDir] [q1,q2,...] [threshold]`
  * Exits 1 if any query fails to spill or diverges.
  */
object SpillProof {

  /** Heavy corpus representatives covering every spillable operator
    * class: h09 (6-table join + agg + final sort — SMJ input sorts +
    * buffered side), d14 (widest verbatim TPC-DS join tree w/ INTERSECT),
    * q34 (high-card aggregation — sort-based fallback path), p08 (MinHash
    * candidate generation — the LLM-pipeline flagship), q21 (window
    * frames — `ExternalAppendOnlyUnsafeRowArray`).
    *
    * Deliberately NOT here: `ORDER BY ... LIMIT k` queries (q02_topk,
    * most d-suite finals). Spark plans those as `TakeOrderedAndProject`,
    * a bounded O(k) priority queue per partition that never needs to
    * spill — which is the scale-correct plan, not a coverage gap.
    */
  val defaultQueries: Seq[String] = Seq(
    "h09", "d14", "q34_highcard_agg", "p08_minhash_pairs",
    "q21_window_running")

  /** The RUNTIME-settable row-count spill thresholds
    * (`ExternalAppendOnlyUnsafeRowArray` consumers: SMJ buffered side,
    * window frames, session windows, cartesian buffers) — usable on a
    * live session, e.g. by `SpillSpec` on the shared test session. */
  def runtimeStarvedConf(threshold: Int): Seq[(String, String)] = Seq(
    // BOTH knobs per consumer: `in.memory.threshold` (default 4096) gates
    // when the plain in-memory array converts to an UnsafeExternalSorter
    // at all — partitions smaller than it never reach the spill
    // threshold, which only governs when that sorter force-spills.
    "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> threshold.toString,
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> threshold.toString,
    "spark.sql.windowExec.buffer.in.memory.threshold" -> threshold.toString,
    "spark.sql.windowExec.buffer.spill.threshold" -> threshold.toString,
    "spark.sql.sessionWindow.buffer.in.memory.threshold" -> threshold.toString,
    "spark.sql.sessionWindow.buffer.spill.threshold" -> threshold.toString,
    "spark.sql.cartesianProductExec.buffer.in.memory.threshold" -> threshold.toString,
    "spark.sql.cartesianProductExec.buffer.spill.threshold" -> threshold.toString)

  /** Order-insensitive exact fingerprint of a result: per-row canonical
    * string (Row.toString is stable within a JVM), sorted, MD5. */
  def resultHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  case class Outcome(name: String, starvedSpill: Long, rows: Int,
                     identical: Boolean) {
    def ok: Boolean = starvedSpill > 0 && identical
  }

  private def freshSession(extraConf: Seq[(String, String)]): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    GraftSession.forMain("graft-spill-proof", extraConf)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args(1).split(",").toSeq.filter(_.nonEmpty)
      else defaultQueries
    val threshold = if (args.length > 2) args(2).toInt else 2000

    // Phase 1: baseline rows under the engine's default conf.
    val base = freshSession(Nil)
    val baseline = names.map { n =>
      val rows = SparkEntry.queries(n)(base, sfDir).collect()
      n -> (resultHash(rows), rows.length)
    }.toMap

    // Phase 2: starved context — force the sorter threshold at context
    // build (context-level conf), the buffer thresholds + SMJ routing at
    // session level.
    val starved = freshSession(
      Seq("spark.shuffle.spill.numElementsForceSpillThreshold" ->
        threshold.toString,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        // Hash aggregation only spills AFTER falling back to sort-based
        // mode, and the fallback normally triggers on failed memory
        // acquisition — un-forceable at fixture scale. This is Spark's
        // own knob for exercising that path (used by its aggregate test
        // suite): fall back after N hash-map keys; the fallback sorter
        // (`UnsafeKVExternalSorter`) then spills via the same
        // numElementsForceSpillThreshold as every other sorter.
        "spark.sql.TungstenAggregate.testFallbackStartsAt" ->
          s"${threshold / 2},$threshold") ++
        runtimeStarvedConf(threshold))
    val outcomes = names.map { n =>
      val (rows, profile) = QueryProfile.of(starved)(
        SparkEntry.queries(n)(starved, sfDir))(_.collect())
      val (expHash, expRows) = baseline(n)
      Outcome(n, profile.spillBytes, rows.length,
        rows.length == expRows && resultHash(rows) == expHash)
    }

    println(f"${"query"}%-24s ${"spill_bytes"}%12s ${"rows"}%8s  identical")
    outcomes.foreach { o =>
      println(f"${o.name}%-24s ${o.starvedSpill}%12d ${o.rows}%8d  " +
        (if (o.identical) "yes" else "NO") + (if (o.ok) "" else "  <- FAIL"))
    }
    val bad = outcomes.filterNot(_.ok)
    println(s"[spill-proof] ${outcomes.size - bad.size}/${outcomes.size} ok " +
      s"(threshold=$threshold rows, sf=$sfDir)")
    starved.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
