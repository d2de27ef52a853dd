package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.{QueryProfile, SpillProof}

/** Pinned out-of-core proof (the full battery is `tools/SpillProof`,
  * which also forces the context-level sorter threshold in its own JVM):
  * on the shared test session only the RUNTIME-settable row-count
  * thresholds are available (`ExternalAppendOnlyUnsafeRowArray`
  * consumers — SMJ buffered side, window frames), so this spec starves
  * those, asserts task-metric spilled bytes > 0, and — the part that
  * makes spilling safe to rely on at 100 TB — asserts the results are
  * bit-identical to the unstarved run.
  */
class SpillSpec extends AnyFunSuite {
  import SparkTestSession._

  private def withConf[T](confs: Seq[(String, String)])(body: => T): T =
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }

  private def proveSpill(name: String, confs: Seq[(String, String)]): Unit = {
    val fn = SparkEntry.queries(name)
    val baseline = fn(spark, sf001).collect()
    val (rows, profile) = withConf(confs) {
      QueryProfile.of(spark)(fn(spark, sf001))(_.collect())
    }
    assert(profile.spillBytes > 0,
      s"$name: expected spill under starved conf, got 0 bytes " +
        s"(stages: ${profile.stages.map(s => s"${s.stageId}:${s.spillBytes}").mkString(",")})")
    assert(rows.length == baseline.length,
      s"$name: row count diverged under spill")
    assert(SpillProof.resultHash(rows) == SpillProof.resultHash(baseline),
      s"$name: results diverged under spill")
  }

  test("window frames spill under a starved buffer and stay identical") {
    // Both knobs: in.memory.threshold gates conversion to the spillable
    // sorter; spill.threshold makes that sorter hit disk.
    proveSpill("q21_window_running",
      Seq("spark.sql.windowExec.buffer.in.memory.threshold" -> "10",
        "spark.sql.windowExec.buffer.spill.threshold" -> "10"))
  }

  test("sort-merge join buffers spill under a starved threshold and stay identical") {
    // Broadcast off so the equi-joins actually take the buffered SMJ path.
    proveSpill("h09",
      Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "10",
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "10"))
  }
}
