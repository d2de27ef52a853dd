package graft.tools

import graft.SparkEntry
import graft.engine.{ConfValue, GraftSession}

/** Interleaved same-JVM config A/B (optimization round, guide §1): flips
  * planning-time SQL confs between reps of the same query so host-window
  * drift cancels out — the cross-window bench A/Bs this round kept
  * producing 1.3–1.7× phantom deltas. Each rep is one [[QueryProfile]]
  * record (build plus `count()`); reports per-query medians of wall, jobs,
  * span and orchestration under conf A (session default) and conf B.
  *
  * Usage:
  *   SPARK_GRAFT_AB_CONF="k1=v1,k2=v2" \
  *   runMain graft.tools.ConfAb <sfDir> <reps> <name>...
  */
object ConfAb {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2)
    val abConf = ConfValue.overrides(sys.env.getOrElse("SPARK_GRAFT_AB_CONF",
      "spark.sql.join.preferSortMergeJoin=false," +
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=67108864"))
    val spark = GraftSession.forMain("graft-confab")
    val defaults = abConf.map { case (k, _) =>
      (k, spark.conf.getOption(k)) }
    def setB(): Unit = abConf.foreach { case (k, v) => spark.conf.set(k, v) }
    def setA(): Unit = defaults.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    try graft.queries.DsPort.register(spark, sfDir) catch { case _: Throwable => () }
    names.foreach { n =>
      // warm both shapes once
      try { setA(); SparkEntry.queries(n)(spark, sfDir).count()
            setB(); SparkEntry.queries(n)(spark, sfDir).count() }
      catch { case _: Throwable => () }
      def profiled(): QueryProfile =
        QueryProfile.of(spark)(SparkEntry.queries(n)(spark, sfDir))(_.count())._2
      val (pa, pb) = (Array.newBuilder[QueryProfile], Array.newBuilder[QueryProfile])
      // Guarded per query (r18 ADVICE): a query that fails after warmup
      // must not abort the whole tool run — print the failure, move on.
      try {
        (1 to reps).foreach { _ =>
          setA(); pa += profiled()
          setB(); pb += profiled()
        }
      } catch { case e: Throwable =>
        println(s"[conf-ab] $n FAILED: ${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").take(160)}")
      }
      setA()
      def med(xs: Array[Double]) = { val s = xs.sorted; s(s.length / 2) }
      def side(ps: Array[QueryProfile]): String =
        f"wall=${med(ps.map(_.wallSec))}%7.3f s " +
          f"jobs=${med(ps.map(_.jobs.toDouble))}%4.0f " +
          f"span=${med(ps.map(_.spanSec))}%7.3f s " +
          f"orch=${med(ps.map(_.orchestrationSec))}%7.3f s"
      val (ra, rb) = (pa.result(), pb.result())
      if (ra.nonEmpty && rb.nonEmpty) {
        val ratio = med(rb.map(_.wallSec)) / med(ra.map(_.wallSec))
        println(f"[conf-ab] $n%-34s A: ${side(ra)}  B: ${side(rb)}  B/A=$ratio%5.2f")
      }
    }
    spark.stop()
  }
}
