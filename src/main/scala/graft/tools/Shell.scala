package graft.tools

import org.apache.spark.sql.SparkSession

import graft.engine.{GraftSession, Tables}
import graft.queries.{CbPort, DsPort, TpchPort}

/** Interactive SQL shell over the engine's registered corpus — the
  * user-facing surface the reference ships as a distributed
  * `datafusion-cli` derivative (`/root/reference/cli/README.md:1-30`)
  * plus a cluster console (`/root/reference/console/README.md:1-20`).
  * Spark's native analogs (the `spark-sql` REPL and the Spark Web UI at
  * http://localhost:4040 while a session is live) already provide the
  * generic machinery; what they lack is this project's catalog — the
  * fixture tables, the `hits` ClickBench view and the TPC-H/TPC-DS
  * adapter schemas — and the stage-tree `EXPLAIN ANALYZE` rendering
  * ([[Explain]], the analog of the reference's `DistributedAnalyzeExec`
  * display). This shell binds exactly that on top of `spark.sql`.
  *
  * Usage: `sbt "runMain graft.tools.Shell [sfDir]"`, then:
  * {{{
  *   graft> SELECT count(*) FROM lineitem;
  *   graft> :suite tpcds          -- bind the 24 TPC-DS adapter views
  *   graft> SELECT count(*) FROM store_sales;
  *   graft> :explain SELECT ...;  -- executed stage tree with metrics
  *   graft> :q d49                -- run a corpus query by name
  *   graft> :tables               -- current bindings
  * }}}
  *
  * Statements end with `;` (multi-line input accumulates until then);
  * `:commands` are single-line. Because the three external suites rebind
  * the same bare table names (`customer` is the fixture table, TPC-H's
  * extended view, or the TPC-DS dimension depending on the suite),
  * bindings are suite-scoped and `:suite` switches them, exactly as the
  * corpus runner does between query families.
  */
object Shell {

  private val suites: Map[String, (SparkSession, String) => Unit] = Map(
    "fixture" -> ((s, dir) => Tables.registerAll(s, dir)),
    "tpch" -> ((s, dir) => TpchPort.register(s, dir)),
    "tpcds" -> ((s, dir) => DsPort.register(s, dir)),
    "clickbench" -> ((s, dir) => CbPort.register(s, dir)))

  private val help =
    """Commands (single-line), everything else is Spark SQL ended by ';':
      |  :suite fixture|tpch|tpcds|clickbench   rebind table views
      |  :tables                                list current temp views
      |  :explain <sql>                         run + stage-tree metrics
      |  :q <name>                              run a corpus query (e.g. :q d49)
      |  :help                                  this text
      |  :quit                                  exit""".stripMargin

  /** Execute one statement, returning the rendered output. Pure
    * (stateless besides the session's catalog) so the REPL loop and the
    * spec share it. */
  def execute(spark: SparkSession, dir: String, stmt: String): String = {
    val line = stmt.trim.stripSuffix(";").trim
    if (line.isEmpty) ""
    else if (line.startsWith(":")) command(spark, dir, line)
    else {
      // Raw SQL may CREATE/DROP temp views behind the binding markers —
      // force the next suite/fixture register to re-bind.
      graft.engine.CatalogState.invalidate(spark)
      val df = spark.sql(line)
      // One execution: show() bounds itself at 200 rows and prints its
      // own "only showing top 200 rows" footer when truncated.
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        df.show(200, truncate = 40)
      }
      out.toString("UTF-8")
    }
  }

  private def command(spark: SparkSession, dir: String, line: String): String = {
    val (cmd, rest) = line.indexOf(' ') match {
      case -1 => (line, "")
      case i  => (line.substring(0, i), line.substring(i + 1).trim)
    }
    cmd match {
      case ":help" => help
      case ":suite" =>
        suites.get(rest) match {
          case Some(reg) =>
            // A user may have shadowed views manually; force a re-bind.
            graft.engine.CatalogState.invalidate(spark)
            reg(spark, dir); s"suite: $rest (${dir})"
          case None => s"unknown suite '$rest'; one of ${suites.keys.toSeq.sorted.mkString(", ")}"
        }
      case ":tables" =>
        spark.catalog.listTables().collect().map(_.name).sorted.mkString("\n")
      case ":explain" =>
        // Same arbitrary-SQL surface as the raw path (DDL shadows views).
        graft.engine.CatalogState.invalidate(spark)
        Explain.analyze(spark.sql(rest.stripSuffix(";")))
      case ":q" =>
        graft.SparkEntry.queries.get(rest) match {
          case Some(fn) =>
            val t0 = System.nanoTime()
            val df = fn(spark, dir)
            val buf = new java.io.ByteArrayOutputStream()
            Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
              df.show(50, truncate = 40)
            }
            val dt = (System.nanoTime() - t0) / 1e9
            buf.toString("UTF-8") + f"($rest: $dt%.2f s)"
          case None => s"unknown query '$rest' (${graft.SparkEntry.queries.size} registered)"
        }
      case ":quit" | ":exit" => "bye"
      case other => s"unknown command $other\n$help"
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(s"local[$cpus]", "graft-shell")
      .config("spark.sql.shuffle.partitions", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    suites("fixture")(spark, dir)
    CbPort.register(spark, dir) // `hits` never collides with bare names
    println(s"graft shell — fixture tables + hits bound from $dir")
    println(help)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    val buf = new StringBuilder
    var done = false
    while (!done) {
      print(if (buf.isEmpty) "graft> " else "    -> ")
      Console.flush()
      val line = in.readLine()
      if (line == null) done = true
      else {
        val isCmd = buf.isEmpty && line.trim.startsWith(":")
        buf.append(line).append('\n')
        if (isCmd || line.trim.endsWith(";")) {
          val stmt = buf.toString
          buf.clear()
          val out =
            try execute(spark, dir, stmt)
            catch { case e: Throwable =>
              s"error: ${Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(8).mkString("\n")}"
            }
          println(out)
          if (out == "bye") done = true
        }
      }
    }
    spark.stop()
  }
}
