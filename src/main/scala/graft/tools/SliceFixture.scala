package graft.tools

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.engine.GraftSession

/** Deterministic fixture slicer for bench-SF value checks.
  *
  * The oracle gate runs at sf0.01; the bench runs at sf0.1. The c/d/h/q
  * suites re-verify at full sf0.1, but the p-suite's graph/cluster
  * oracles (recursive-CTE connected components, all-pairs dedup checks)
  * are prohibitively slow in DuckDB at 10× — so r09 left p-suite values
  * unchecked at the bench SF. This closes that gap cheaply: slice the
  * p-suite fact tables (`documents`, `embeddings`) down to 1/`mod` of
  * their rows (default 10), copy every other table byte-identical
  * (events keeps its exact timestamp physical encoding — the
  * `normalizeEventTs` gotcha), and run the normal Verify + check.py pair
  * against the sliced directory. Both engines see the same sliced input,
  * so the differential check is as strong as the gate's, over data drawn
  * from the sf0.1 domain (10× id ranges, sf0.1 text/embedding values) at
  * sf0.01-class oracle cost.
  *
  * Usage: `runMain graft.tools.SliceFixture <srcDir> <dstDir> [mod]`
  * then `runMain graft.Verify <dstDir> <outDir> p01,...` and
  * `python3 tools/check.py <dstDir> <outDir>`.
  */
object SliceFixture {

  /** table → key column to slice on; everything else is copied. */
  private val sliceKeys = Map("documents" -> "doc_id", "embeddings" -> "vec_id")

  /** The slice keeps STRIPES of `stride` consecutive ids rather than a
    * single residue class: corpus queries themselves split on small key
    * residues (p49 holds out `doc_id % 10 = 9` as the benchmark set) and
    * pick low-id probe sets (`vec_id < 3` ANN queries) — a `% mod = 0`
    * slice would empty both, making their checks vacuous. Stripes keep
    * every small-mod residue and the low-id rows represented. */
  private val stride = 1000L

  def main(args: Array[String]): Unit = {
    val Array(src, dst) = args.take(2)
    val mod = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.forMain("graft-slice")
    spark.sparkContext.setLogLevel("ERROR")
    new File(dst).mkdirs()
    new File(src).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val table = f.getName.stripSuffix(".parquet")
      val target = new File(dst, f.getName)
      sliceKeys.get(table) match {
        case Some(key) =>
          graft.engine.Tables.writeSingleParquet(
            spark.read.parquet(f.getAbsolutePath)
              .filter(pmod(floor(col(key) / stride), lit(mod)) === 0), target)
          println(s"[slice] $table: 1/$mod of rows by $key -> $target")
        case None =>
          Files.copy(f.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
          println(s"[slice] $table: copied verbatim")
      }
    }
    spark.stop()
  }
}
