package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (builder-side iteration only; the driver passes
    // two): comma-separated query names to restrict the dump to. An entry
    // matches exactly ("d21") or as an underscore prefix ("p01" matches
    // "p01_exact_dedup" — the pipeline/relational names carry suffixes).
    val only: Option[String => Boolean] =
      if (args.length > 2) {
        val entries = args(2).split(",").toSet
        Some(name => entries.contains(name) ||
          entries.exists(e => name.startsWith(e + "_")))
      } else None
    val cpus = graft.engine.GraftSession.cpus
    val b = graft.engine.GraftSession.builder(s"local[$cpus]", "graft-verify")
      .config("spark.sql.shuffle.partitions", cpus)
    // Optional conf overrides for mode-flip parity runs — the analog of the
    // reference rerunning its correctness suites with ADAPTIVE=true
    // (`tests/tpch_correctness_test.rs:15,144-146`): e.g.
    // SPARK_GRAFT_CONF="spark.sql.adaptive.enabled=false" must yield the
    // same full-corpus oracle result as the default AQE-on run.
    sys.env.get("SPARK_GRAFT_CONF").foreach(graft.engine.ConfValue
      .overrides(_).foreach { case (k, v) => b.config(k, v) })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
