package graft.tools

import graft.SparkEntry
import graft.engine.GraftSession
import org.apache.spark.sql.types._

/** Layout-flip float audit: every query whose output schema contains a
  * floating-point column is executed under two deliberately different
  * physical layouts (shuffle partition count AND scan split size), and the
  * two sorted result sets are hash-compared. A mismatch means the query's
  * floats depend on partial-aggregation / partition order — the class of
  * bug where four same-layout verification modes all pass locally but an
  * oracle running on a different layout sees different 4-dp-rounded values
  * (p47_dsir_weights, round 6). Exact analog of the reference's requirement
  * that its differential suites be bit-exact across plan shapes
  * (`tests/tpch_correctness_test.rs:139-158` reruns with ADAPTIVE flipped).
  *
  * Usage: `runMain graft.tools.FloatAudit <sfDir> [name,name,...]`
  * Exits 1 on any mismatch — wired into the round-close gate next to the
  * four Verify mode flips.
  */
object FloatAudit {
  private def hasFloat(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(e, _)        => hasFloat(e)
    case StructType(fs)         => fs.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _)       => hasFloat(k) || hasFloat(v)
    case _                      => false
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = GraftSession.forMain("graft-float-audit")
    // Two layouts chosen to disagree in both shuffle fan-out and scan
    // splits: different partial-agg grouping, different merge order.
    val layouts = Seq(
      Map("spark.sql.shuffle.partitions" -> "5",
          "spark.sql.files.maxPartitionBytes" -> "1048576"),
      Map("spark.sql.shuffle.partitions" -> "13",
          "spark.sql.files.maxPartitionBytes" -> "134217728"))
    var audited = 0
    var skipped = 0
    var failures = List.empty[String]
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          // Build once under layout 0 to see the schema; skip float-free
          // queries (integer/decimal/string outputs cannot drift).
          layouts.head.foreach { case (k, v) => spark.conf.set(k, v) }
          val df0 = fn(spark, sfDir)
          if (!df0.schema.exists(f => hasFloat(f.dataType))) {
            skipped += 1
          } else {
            audited += 1
            val r0 = df0.collect().map(_.toString).sorted.mkString("\n")
            layouts(1).foreach { case (k, v) => spark.conf.set(k, v) }
            val r1 = fn(spark, sfDir).collect().map(_.toString)
              .sorted.mkString("\n")
            if (r0 == r1) println(s"[float-audit] OK       $name")
            else {
              println(s"[float-audit] MISMATCH $name — float output " +
                "depends on physical layout")
              failures ::= name
            }
          }
        } catch {
          case e: Throwable =>
            println(s"[float-audit] ERROR    $name: ${e.getMessage}")
            failures ::= name
        }
      }
    println(s"[float-audit] $audited audited, $skipped float-free, " +
      s"${failures.size} failed")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
