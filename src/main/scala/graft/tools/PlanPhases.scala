package graft.tools

import graft.SparkEntry
import graft.engine.GraftSession

/** Attribute a query's DRIVER-side wall: QueryPlanningTracker phase times
  * (parsing / analysis / optimization / physical planning) plus
  * construction and execution wall, so "non-task wall" claims (the
  * d-suite's ~0.2–0.6 s/q) rest on measured phases instead of
  * subtraction. Two timed reps per query after one warm pass — rep 1
  * shows cold codegen/plan costs, rep 2 the steady state the bench's
  * min-of-2 reports.
  *
  * Usage: `runMain graft.tools.PlanPhases <sfDir> <name>...`
  */
object PlanPhases {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(s"local[$cpus]", "graft-planphases")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try graft.queries.DsPort.register(spark, sfDir) catch { case _: Throwable => () }
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case _: Throwable => () }
      (1 to 2).foreach { rep =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val tBuild = (System.nanoTime() - t0) / 1e6
        // Force optimization+planning without executing, then execute.
        val qe = df.queryExecution
        qe.executedPlan
        val tPlan = (System.nanoTime() - t0) / 1e6 - tBuild
        val t1 = System.nanoTime()
        val cnt = df.count()
        val tExec = (System.nanoTime() - t1) / 1e6
        val phases = qe.tracker.phases.map { case (p, s) =>
          f"$p=${s.endTimeMs - s.startTimeMs}%d"
        }.toSeq.sorted.mkString(" ")
        println(f"[phases] $n%-8s rep=$rep build=$tBuild%7.1f ms  " +
          f"plan=$tPlan%7.1f ms  exec=$tExec%7.1f ms  rows=$cnt%-6d $phases")
      }
    }
    spark.stop()
  }
}
