package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.engine.{ConfValue, GraftSession}

/** Dump `.explain("formatted")` for named queries to files — the
  * plan-artifact generator for the optimization rounds
  * (`plans/r18/<query>_{before,after}.txt`).
  *
  * Usage: `runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <name>...`
  * writes `<outDir>/<name>_<suffix>.txt`. Note: for sink round-trip
  * queries the returned DataFrame is the read-back; their construction
  * side effects (eager writes) run before the plan is captured, so the
  * dumped plan is the final consumer plan plus whatever the query
  * function logged — the honest shape of what the bench times last.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, rest @ _*) = args.toSeq.toArray[String]
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = GraftSession.builder(s"local[$cpus]", "graft-plandump")
      .config("spark.sql.shuffle.partitions", cpus)
    // Same override hook as Verify: lets a conf-gated optimization's
    // BEFORE plan be dumped by flipping its toggle (r19).
    sys.env.get("SPARK_GRAFT_CONF").foreach(ConfValue.overrides(_)
      .foreach { case (k, v) => b.config(k, v) })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    rest.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
