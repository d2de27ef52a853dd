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
    *  - `spark.graft.cc.localEdgeThreshold` (default 2^20): edge count at
    *    or below which connected components finish with a bounded driver
    *    union-find + broadcast label join instead of more shuffle rounds;
    *    0 forces the fully-distributed paths — see
    *    [[graft.operators.Dedup.connectedComponents]].
    */
  def defaultConf: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // Runtime skew-join splitting (the reference's dynamic task sizing
    // handles skew the same way: oversized partitions are subdivided at
    // stage boundaries). Explicit even though default-on: this engine
    // RELIES on it for hot-key joins; Skew.saltedJoin is the manual lever
    // beyond what AQE splits.
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

  /** Cluster-scale conf on top of [[defaultConf]] — the arithmetic a 100 TB
    * deployment actually needs, parameterized the way the reference sizes
    * stages (`bytes_per_partition` × worker count):
    *
    *  - shuffle partitions ≈ 2-3 tasks per core across the fleet (AQE
    *    coalesces down when a stage is small; undershooting cannot be fixed
    *    at runtime, overshooting can);
    *  - `maxPartitionBytes` fixed at the reference's 16 MiB-class default
    *    scaled to 128 MiB for object-store parquet (fewer, fuller tasks;
    *    row-group aligned);
    *  - broadcast threshold sized to executor memory, not a constant: a
    *    64 GiB executor can afford a 256 MiB build side, a 8 GiB one
    *    cannot.
    *
    * local[32] testing uses [[defaultConf]]; this method is the documented
    * translation to a real fleet and is exercised for arithmetic only.
    */
  def clusterConf(executors: Int, coresPerExecutor: Int,
                  executorMemGiB: Int): Map[String, String] = {
    require(executors >= 1 && coresPerExecutor >= 1 && executorMemGiB >= 1,
      "cluster dimensions must be positive")
    val totalCores = executors.toLong * coresPerExecutor
    val shufflePartitions = math.min(totalCores * 3, 200000L)
    val broadcastBytes =
      math.min(executorMemGiB.toLong * 1024 * 1024 * 1024 / 256, 512L * 1024 * 1024)
    defaultConf ++ Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
      "spark.sql.autoBroadcastJoinThreshold" -> broadcastBytes.toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (64L * 1024 * 1024).toString)
  }

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
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .filter(_ > 0).getOrElse(Runtime.getRuntime.availableProcessors())

  def local(threads: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = builder(s"local[$threads]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
