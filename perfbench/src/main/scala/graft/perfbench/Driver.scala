package graft.perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.engine.{GraftSession, Tables}
import graft.queries.{CbPort, DsPort, TpchPort}

/** One benchmark run: set up, run an untimed warm pass that also writes
  * the results to check, then time passes over the workload's queries.
  * Everything it measures goes, raw, into `<out>/raw.json`; run.py turns
  * that into the reported metrics.
  *
  * Arguments (all required, `--key value`):
  *  - `--data`: fixture directory.
  *  - `--blocks`: queries in timing order; `;` separates blocks, `,` queries.
  *  - `--seconds`: timed passes repeat while the next one is expected to
  *    end within `seconds`; there is always at least one.
  *  - `--lead`: untimed executions in a row of each query at the start of
  *    a timed pass, so its timed ones start from its own warmed-up code.
  *  - `--reps`: rounds over all queries in a timed pass; each round times
  *    every query once.
  *  - `--check`: queries whose results are written for the oracle check.
  *  - `--fresh`: queries timed in a new SparkContext every execution, once
  *    per timed pass. They are cold by design: they skip the warm pass, and a
  *    checked one writes its result right after its first execution, from
  *    the same context. The other queries first run once in an untimed
  *    warm pass, so the JIT has compiled what they run, and that pass
  *    writes the results to check.
  *  - `--trace`: 1 to run every timed execution twice, once traced and
  *    once not, alternating which goes first.
  *  - `--out`: directory for `raw.json` and the results.
  *
  * The session runs `local[N]` with N shuffle partitions, N being the
  * processors available to the JVM.
  */
object Driver {

  final case class Args(data: String, blocks: Seq[Seq[String]], check: Set[String],
                        fresh: Set[String], lead: Int, reps: Int, seconds: Double,
                        trace: Boolean, out: String)

  /** Set-up repetitions; `setup_s` is their median. */
  val Setups = 3
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Query names may be given by their prefix: `p01` for `p01_dedup_exact_groups`. */
  def resolve(name: String): String =
    if (SparkEntry.queries.contains(name)) name
    else SparkEntry.queries.keys.filter(_.startsWith(name + "_")).toSeq.sorted.headOption.getOrElse(name)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def names(v: String) = v.split(",").toSeq.filter(_.nonEmpty).map(resolve)
    Args(m("data"), m("blocks").split(";").toSeq.map(names), names(m("check")).toSet,
      names(m("fresh")).toSet, m("lead").toInt, m("reps").toInt, m("seconds").toDouble,
      m("trace") == "1", m("out"))
  }

  /** Wall clock in epoch milliseconds with nanosecond resolution, on the
    * same base as Spark's listener event times. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        exec: String, start: Double, end: Double)

  private val spans = mutable.ArrayBuffer[Span]()
  private def span(parent: Int, kind: String, name: String, exec: String,
                   start: Double, end: Double): Int = {
    val id = spans.size + 1
    spans += Span(id, parent, kind, name, exec, start, end)
    id
  }

  def session(): SparkSession = {
    val s = GraftSession.builder(s"local[$cpus]", "graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** A fixed query that touches the scan, join, aggregate and sort paths
    * once, so JIT and reader start-up land in set-up. */
  def warmup(s: SparkSession, dir: String): Unit = {
    val o = Tables.load(s, dir, "orders")
    val l = Tables.load(s, dir, "lineitem")
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("o_orderpriority"))
      .write.format("noop").mode("overwrite").save()
  }

  /** Bind the suite a query belongs to; untimed at the start of each block. */
  def bind(s: SparkSession, dir: String, query: String): Unit = query.head match {
    case 'h' => TpchPort.register(s, dir)
    case 'd' => DsPort.register(s, dir)
    case 'c' => CbPort.register(s, dir)
    case _ => ()
  }

  /** Bind the suites the blocks use or, when they use none, the bare
    * fixture tables. */
  def fixtures(s: SparkSession, a: Args): Unit = {
    val suites = a.blocks.map(_.head).filter(q => "hdc".contains(q.head))
    if (suites.nonEmpty) suites.foreach(bind(s, a.data, _))
    else Tables.register(s, a.data,
      Tables.all.filter(n => new java.io.File(s"${a.data}/$n.parquet").exists()): _*)
  }

  /** Persisted RDDs plus cached relations currently held by the session. */
  def heldState(s: SparkSession): Set[String] = {
    val rdds = s.sparkContext.getPersistentRDDs.keys.map(id => s"rdd:$id").toSet
    val cached = scala.util.Try {
      val f = s.sharedState.cacheManager.getClass.getDeclaredField("cachedData")
      f.setAccessible(true)
      f.get(s.sharedState.cacheManager).asInstanceOf[IndexedSeq[AnyRef]]
        .map(d => s"cache:${System.identityHashCode(d)}").toSet
    }.getOrElse(Set.empty[String])
    rdds ++ cached
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new java.io.File(a.out).mkdirs()
    val runStart = nowMs
    val records = mutable.ArrayBuffer[String]()
    val setupRows = mutable.ArrayBuffer[String]()
    val dumps = mutable.LinkedHashMap[String, String]()

    // ---- set-up, repeated; the last session stays open for timing ----
    val runId = span(0, "run", "run", "", runStart, runStart)
    var spark: SparkSession = null
    (0 until Setups).foreach { rep =>
      if (spark != null) stop(spark)
      val t0 = nowMs
      spark = session()
      val t1 = nowMs
      warmup(spark, a.data)
      val t2 = nowMs
      fixtures(spark, a)
      val t3 = nowMs
      val setupId = span(runId, "setup", s"setup$rep", "", t0, t3)
      Seq(("session", t0, t1), ("warmup", t1, t2), ("fixture", t2, t3))
        .foreach { case (n, b, e) => span(setupId, "setup." + n, n, "", b, e) }
      setupRows += Json.obj("rep" -> rep, "session_s" -> (t1 - t0) / 1e3,
        "warmup_s" -> (t2 - t1) / 1e3, "fixture_s" -> (t3 - t2) / 1e3,
        "setup_s" -> (t3 - t0) / 1e3)
    }

    // ---- timed passes ----
    val probe = new Probe
    var attached: SparkSession = null
    def trace(s: SparkSession, on: Boolean): Unit = {
      if (attached != null && (!on || (attached ne s))) {
        if (!attached.sparkContext.isStopped) probe.detach(attached)
        attached = null
      }
      if (on && attached == null) { probe.attach(s); attached = s }
    }

    var seq = 0
    def result(q: String) = s"${a.out}/results/$q"
    def failure(e: Throwable) =
      Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(300)

    /** One execution: build the DataFrame, then write every row and column
      * to the noop sink, or to parquet when `keep`. A `warm` one is untimed. */
    def execute(q: String, pass: Int, traced: Boolean, passId: Int, warm: Boolean = false,
                keep: Boolean = false): Unit = {
      seq += 1
      val exec = s"$q@$seq"
      val fresh = a.fresh(q)
      if (fresh) { trace(spark, on = false); stop(spark); spark = session() }
      trace(spark, traced)
      if (traced) { Bus.drain(spark.sparkContext); probe.take() }
      val held = heldState(spark)
      val t0 = nowMs
      var t1 = t0
      val error =
        try {
          val df = SparkEntry.queries(q)(spark, a.data)
          t1 = nowMs
          if (keep) df.coalesce(1).write.mode("overwrite").parquet(result(q))
          else df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable =>
          if (t1 == t0) t1 = nowMs
          Some(failure(e))
        }
      if (keep) dumps(q) = error.orNull
      val t2 = nowMs
      val leftover = (heldState(spark) -- held).size
      val fields = mutable.ArrayBuffer[(String, Any)](
        "query" -> q, "pass" -> pass, "seq" -> seq, "warm" -> warm, "fresh" -> fresh,
        "traced" -> traced, "ok" -> error.isEmpty,
        "error" -> error.orNull, "wall_s" -> (t2 - t0) / 1e3, "build_s" -> (t1 - t0) / 1e3,
        "app" -> spark.sparkContext.applicationId, "leftover" -> leftover)
      if (traced) {
        Bus.drain(spark.sparkContext)
        val o = probe.take()
        val execId = span(passId, "exec", q, exec, t0, t2)
        val buildId = span(execId, "build", q, exec, t0, t1)
        val matId = span(execId, "materialize", q, exec, t1, t2)
        def phaseOf(t: Double): Int = if (t < t1) buildId else matId
        o.phases.foreach { case (n, b, e) => span(phaseOf(b), "plan", n, exec, b, e) }
        val jobIds = o.jobs.sortBy(_._2).map { case (id, b, e, stageIds) =>
          (span(phaseOf(b), "job", s"job$id", exec, b, e), b, stageIds.toSet)
        }
        o.stages.foreach { case (id, att, b, e) =>
          val parent = jobIds.filter(j => j._3(id) && j._2 <= b + 1).lastOption
            .map(_._1).getOrElse(matId)
          span(parent, "stage", s"stage$id.$att", exec, b, e)
        }
        fields ++= Seq("jobs" -> o.jobs.size, "build_jobs" -> o.jobs.count(_._2 < t1),
          "stages" -> o.stages.size, "tasks" -> o.tasks, "task_s" -> o.taskRunMs / 1e3,
          "task_wait_s" -> o.taskWaitMs / 1e3, "gc_s" -> o.gcMs / 1e3,
          "shuffle_mb" -> o.shuffleBytes / 1048576.0, "spill_mb" -> o.spillBytes / 1048576.0,
          "retries" -> o.retries, "exchanges" -> o.exchanges,
          "plan_s" -> o.phases.map(p => p._3 - p._2).sum / 1e3,
          "batches" -> o.batches, "batch_s" -> o.batchMs / 1e3)
      }
      records += Json.obj(fields.toSeq: _*)
      System.err.println(f"[perfbench] $exec ${(t2 - t0) / 1e3}%.3f s${error.fold("")(" FAILED " + _)}")
      // A fresh context writes the result right away, while the state this
      // execution trained is still in memory.
      if (fresh && a.check(q) && !dumps.contains(q)) {
        trace(spark, on = false)
        dumps(q) =
          try { SparkEntry.queries(q)(spark, a.data).coalesce(1).write.mode("overwrite").parquet(result(q)); null }
          catch { case e: Throwable => failure(e) }
      }
    }

    /** One pass; pass -1 is the untimed warm pass, which writes the results
      * to check. Each block's suite is bound first, untimed. In a timed pass
      * each query of the block runs its lead-ins, then `reps` rounds time
      * every query of the block once, so that a slow stretch of the host
      * touches a few samples of every query rather than every sample of a
      * few. A fresh-context query runs once, in the first round. */
    def runPass(pass: Int): Double = {
      val p0 = nowMs
      val passId = span(runId, "pass", s"pass$pass", "", p0, p0)
      a.blocks.foreach { block =>
        trace(spark, on = false)
        bind(spark, a.data, block.head)
        val warm = block.filterNot(a.fresh)
        if (pass < 0) warm.foreach(q => execute(q, pass, traced = false, passId, warm = true, keep = a.check(q)))
        else {
          warm.foreach(q => (0 until a.lead).foreach(_ => execute(q, pass, traced = false, passId, warm = true)))
          (0 until a.reps).foreach { r =>
            block.zipWithIndex.foreach { case (q, i) =>
              if (r == 0 || !a.fresh(q)) {
                if (!a.trace) execute(q, pass, traced = false, passId)
                else {
                  val tracedFirst = (i + r) % 2 == 0
                  execute(q, pass, tracedFirst, passId)
                  execute(q, pass, !tracedFirst, passId)
                }
              }
            }
          }
        }
      }
      spans(passId - 1) = spans(passId - 1).copy(end = nowMs)
      nowMs - p0
    }

    val setupEnd = nowMs
    runPass(-1)
    val timedStart = nowMs
    var pass = 0
    var lastPass = 0.0
    while (pass == 0 || nowMs - timedStart + lastPass <= a.seconds * 1e3) {
      lastPass = runPass(pass)
      pass += 1
    }
    val timedEnd = nowMs
    trace(spark, on = false)
    spans(runId - 1) = spans(runId - 1).copy(end = nowMs)

    val oracles = SparkEntry.oracleSql
    val names = a.blocks.flatten
    val out = Json.obj(
      "cpus" -> cpus, "passes" -> pass, "setup_total_s" -> (setupEnd - runStart) / 1e3,
      "warm_s" -> (timedStart - setupEnd) / 1e3, "timed_s" -> (timedEnd - timedStart) / 1e3,
      "checked" -> Json.Raw(dumps.keys.map(Json.str).mkString("[", ",", "]")),
      "setups" -> Json.Raw(setupRows.mkString("[", ",", "]")),
      "executions" -> Json.Raw(records.mkString("[", ",\n", "]")),
      "dump_errors" -> Json.Raw(dumps.collect { case (k, v) if v != null => Json.str(k) + ":" + Json.str(v) }
        .mkString("{", ",", "}")),
      "oracle_sql" -> Json.Raw(names.filter(oracles.contains)
        .map(n => Json.str(n) + ":" + Json.str(oracles(n))).mkString("{", ",\n", "}")),
      "spans" -> Json.Raw(if (!a.trace) "[]" else spans.map { s =>
        Json.obj("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "exec" -> s.exec, "start_ms" -> s.start, "end_ms" -> s.end)
      }.mkString("[", ",\n", "]")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.out}/raw.json"), out)
    stop(spark)
  }
}

/** The few JSON shapes the driver writes. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
