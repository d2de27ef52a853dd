package graft.tools

import graft.SparkEntry
import graft.engine.{ConfValue, GraftSession}

/** Interleaved same-JVM config A/B (optimization round, guide §1): flips
  * planning-time SQL confs between reps of the same query so host-window
  * drift cancels out — the cross-window bench A/Bs this round kept
  * producing 1.3–1.7× phantom deltas. Reports per-query medians under
  * conf A (session default) and conf B.
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
      val (ta, tb) = (Array.newBuilder[Double], Array.newBuilder[Double])
      // Guarded per query (r18 ADVICE): a query that fails after warmup
      // must not abort the whole tool run — print the failure, move on.
      try {
        (1 to reps).foreach { _ =>
          setA()
          val a0 = System.nanoTime(); SparkEntry.queries(n)(spark, sfDir).count()
          ta += (System.nanoTime() - a0) / 1e9
          setB()
          val b0 = System.nanoTime(); SparkEntry.queries(n)(spark, sfDir).count()
          tb += (System.nanoTime() - b0) / 1e9
        }
      } catch { case e: Throwable =>
        println(s"[conf-ab] $n FAILED: ${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").take(160)}")
      }
      setA()
      def med(xs: Array[Double]) = { val s = xs.sorted; s(s.length / 2) }
      val (ra, rb) = (ta.result(), tb.result())
      if (ra.nonEmpty && rb.nonEmpty) {
        val (ma, mb) = (med(ra), med(rb))
        println(f"[conf-ab] $n%-34s A=$ma%7.3f s  B=$mb%7.3f s  B/A=${mb / ma}%5.2f")
      }
    }
    spark.stop()
  }
}
