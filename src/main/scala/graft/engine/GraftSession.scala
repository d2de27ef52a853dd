package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's distribution defaults.
  *
  * The reference exposes ~40 `with_distributed_*` builder knobs
  * (`/root/reference/src/distributed_ext.rs:76-737`); in Spark nearly all of
  * them map onto SQL conf, because Spark already ships the distribution layer
  * the reference implements by hand (shuffle/broadcast/coalesce exchanges,
  * stage formation, AQE). [[defaultConf]] documents the mapping.
  */
object GraftSession {

  /** Reference knob -> Spark conf mapping
    * (`/root/reference/src/distributed_planner/distributed_config.rs:8-71`):
    *  - `files_scan_config_bytes_per_partition` (16 MiB) ->
    *    `spark.sql.files.maxPartitionBytes`
    *  - `broadcast_joins_enabled` -> `spark.sql.autoBroadcastJoinThreshold`
    *  - `dynamic_task_count` (AQE) -> `spark.sql.adaptive.enabled`
    *  - `compression` (lz4) -> `spark.io.compression.codec`
    *  - `max_tasks_per_stage` -> `spark.sql.shuffle.partitions` + AQE coalesce
    *
    * Engine-specific knobs (the `spark.graft.*` namespace, settable per
    * session like any SQL conf):
    *  - `spark.graft.partialReduce` (default false, like the reference's
    *    `partial_reduce`): extra merge aggregation below the exchange —
    *    see [[graft.plans.PartialReduce]], A/B-measured by q34 vs q34b.
    *
    * Connected components take no key: star contraction behind the driver
    * finisher, whose edge bound is the `localEdges` parameter of
    * [[graft.operators.Dedup.connectedComponents]].
    */
  def defaultConf: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // Runtime skew-join splitting (the reference's dynamic task sizing
    // handles skew the same way: oversized partitions are subdivided at
    // stage boundaries). Explicit even though default-on: this engine
    // RELIES on it for hot-key joins and has no manual salting lever.
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (32 * 1024 * 1024).toString,
    "spark.sql.files.maxPartitionBytes" -> (16 * 1024 * 1024).toString,
    "spark.io.compression.codec" -> "lz4",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.ui.enabled" -> "false",
    // events.ts has shipped as TIMESTAMP(NANOS) (one fixture generation)
    // and TIMESTAMP(µs, isAdjustedToUTC=false) (the next); both flags are
    // session-level because neither has a per-read DataFrameReader option.
    // nanosAsLong lets NANOS files read at all (as LongType;
    // Tables.normalizeEventTs truncates to µs timestamps), and
    // inferTimestampNTZ=false makes naive-µs files read as TimestampType —
    // the session tz is UTC, so the instants match what DuckDB reads, and
    // event-time ops (withWatermark, unix_micros) stay legal.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false"
  )

  def builder(master: String = "local[*]", appName: String = "graft"): SparkSession.Builder = {
    val b = SparkSession.builder().master(master).appName(appName)
      .withExtensions(new GraftExtensions)
    defaultConf.foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** Local-mode thread count of the command-line tools: `SPARK_GRAFT_CPUS`
    * if it holds a positive integer, otherwise the JVM's available
    * processors (what the test suite and perfbench use).
    */
  def cpus: Int = ConfValue.positiveInt("SPARK_GRAFT_CPUS",
    sys.env.get("SPARK_GRAFT_CPUS"), Runtime.getRuntime.availableProcessors())

  /** The session of every command-line main: `local[cpus]` (with a task
    * failure limit above 1, `local[cpus,taskFailures]`) and one shuffle
    * partition per thread, then the main's own `conf`, then the
    * `SPARK_GRAFT_CONF` entries. Later entries win, so
    * `SPARK_GRAFT_CONF="spark.master=local-cluster[2,2,2048]"` moves any
    * main onto executor JVMs without a source edit.
    */
  def forMain(appName: String, conf: Seq[(String, String)] = Nil,
              taskFailures: Int = 1): SparkSession = {
    val b = builder(appName = appName)
    mainSettings(cpus, taskFailures, conf,
      ConfValue.overrides(sys.env.getOrElse("SPARK_GRAFT_CONF", "")))
      .foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** [[forMain]]'s settings in the order they are applied. */
  private[graft] def mainSettings(cpus: Int, taskFailures: Int,
      conf: Seq[(String, String)],
      overrides: Seq[(String, String)]): Seq[(String, String)] = {
    val master =
      if (taskFailures == 1) s"local[$cpus]" else s"local[$cpus,$taskFailures]"
    Seq("spark.master" -> master,
      "spark.sql.shuffle.partitions" -> cpus.toString) ++ conf ++ overrides
  }
}
