package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.ConfValue

/** Physical data-layout operators: the deterministic curated parquet sink,
  * its read-back, and small-file compaction. Parquet row-group min/max
  * pruning and partition pruning only bite when values are clustered, so
  * the sink sorts every file by its key.
  *
  * The reference scopes layout to file sort order preserved through scans
  * (`/root/reference/tests/join.rs:49-62`); the write side here is the
  * complement a training-data pipeline needs to PRODUCE such data.
  *
  * All pure declarative Spark: one shuffle per write, partition-local
  * sorts, and nothing collected to the driver.
  */
object Layout {

  /** Root directory for curated-sink outputs whose location the caller
    * doesn't pin: `spark.graft.curatedSinkRoot` if set, else a
    * user-scoped tmpdir. Queries that write as a side effect (p86/p91)
    * resolve through this, making the on-disk side effect explicit and
    * isolable — two concurrent sessions over the same fixture point the
    * conf at disjoint roots instead of racing on one directory. A blank
    * value is malformed (it would root every sink at `/`) and gives the
    * default.
    */
  def sinkRoot(spark: org.apache.spark.sql.SparkSession): String =
    ConfValue.get(spark, "spark.graft.curatedSinkRoot",
        System.getProperty("java.io.tmpdir") +
          s"/graft-curated-${System.getProperty("user.name", "u")}") { raw =>
      require(raw.trim.nonEmpty, "blank path"); raw
    }

  /** Per-query sink directory under [[sinkRoot]], named by a UUID of
    * `key` (the query tag plus fixture dir, e.g. `"p104:" + dir`): the same
    * key names the same directory on every run, so repeat constructions
    * (bench iterations, plan audits) overwrite instead of accumulating.
    */
  def sinkDir(spark: org.apache.spark.sql.SparkSession, key: String): String =
    sinkRoot(spark) + "/" +
      java.util.UUID.nameUUIDFromBytes(key.getBytes("UTF-8")).toString

  /** Deterministic curated-output sink — the end-of-pipeline step every
    * training-data funnel finishes with: survivors land as partitioned
    * parquet whose layout is a pure function of the DATA, independent of
    * cluster size, input partitioning, or scheduling.
    *
    * Contract (each part spec-pinned in `LayoutSpec`):
    *  - directories: one hive partition dir per (`partitionCol`,
    *    `__file`) pair, where `__file = xxhash64(sortCols) mod
    *    filesPerPartition` — a deterministic row→file assignment, so the
    *    EXACT file count per partition value is `filesPerPartition` (for
    *    values with ≥1 row in every bucket) and rerunning on a different
    *    layout reproduces the same row sets per directory;
    *  - one parquet file per leaf directory: the repartition below hashes
    *    on exactly the directory key, so each leaf's rows live in one
    *    task;
    *  - rows inside each file are sorted by `sortCols` — byte-stable
    *    content given a duplicate-free sort key, and row-group min/max
    *    stats that actually prune on the sort key at read time.
    *
    * Scale shape: one hash shuffle on the directory key; the skew guard
    * is `filesPerPartition` (a hot partition value spreads over that many
    * tasks). Partition-value cardinality × filesPerPartition should be
    * sized ≥ cluster parallelism, same sizing rule as any bucketed write.
    *
    * The reference has no write path at all (its sink is the client
    * stream, SURVEY §2.3); this is the beyond-reference complement a
    * pipeline needs to PRODUCE curated corpora.
    */
  def writeCurated(df: DataFrame, path: String, partitionCol: String,
                   sortCols: Seq[String], filesPerPartition: Int = 1): Unit = {
    require(filesPerPartition >= 1,
      s"filesPerPartition=$filesPerPartition must be >= 1")
    require(sortCols.nonEmpty,
      "writeCurated needs sortCols: a deterministic layout needs a " +
        "total row order (use the id/key column)")
    val withFile = df.withColumn("__file",
      if (filesPerPartition == 1) lit(0)
      else pmod(xxhash64(sortCols.map(col): _*),
        lit(filesPerPartition.toLong)).cast("int"))
    withFile
      .repartition(col(partitionCol), col("__file"))
      .sortWithinPartitions(
        (col(partitionCol) +: col("__file") +: sortCols.map(col)): _*)
      .write
      .partitionBy(partitionCol, "__file")
      .mode("overwrite")
      .parquet(path)
  }

  /** Read a [[writeCurated]] directory back, dropping the internal
    * `__file` bucket column. Partition-column values round-trip through
    * directory names — keep partition columns string/integral.
    */
  def readCurated(spark: org.apache.spark.sql.SparkSession,
                  path: String): DataFrame =
    spark.read.parquet(path).drop("__file")

  /** [[readCurated]] with the writer's LOGICAL schema supplied explicitly
    * (pre-`__file`): exact round-trip types with no partition-value
    * inference, and an empty sink directory (an empty funnel is a legal
    * outcome of a 100 TB filter chain) reads back as an empty frame
    * instead of failing schema inference.
    */
  def readCurated(spark: org.apache.spark.sql.SparkSession, path: String,
                  schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema.add(org.apache.spark.sql.types.StructField(
        "__file", org.apache.spark.sql.types.IntegerType, nullable = true)))
      .parquet(path).drop("__file")

  /** The curated-sink round trip: an eager [[writeCurated]] of `df` to
    * `path`, then `release` (frees the caller's shared inputs of `df`) in a
    * `finally`, then the schema-pinned [[readCurated]] read-back.
    */
  def curatedRoundTrip(df: DataFrame, path: String, partitionCol: String,
                       sortCols: Seq[String], filesPerPartition: Int = 1)
                      (release: => Unit = ()): DataFrame = {
    try writeCurated(df, path, partitionCol, sortCols, filesPerPartition)
    finally release
    readCurated(df.sparkSession, path, df.schema)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(totalBytes / targetFileBytes) similarly-sized files. Streaming
    * ingest and per-task writes leave 100 TB corpora as millions of
    * KB-scale files whose open/footer overhead dominates scans; compaction
    * is the standing maintenance operator every lakehouse runs (Delta
    * OPTIMIZE / Iceberg rewrite_data_files — same arithmetic). Sizing is
    * measured from the filesystem, not guessed: parquet's on-disk bytes
    * already reflect encoding + compression. Round-robin repartition (not
    * coalesce: coalesce merges map-side and would skew file sizes by
    * input-file placement) redistributes rows evenly. Returns the file
    * count written.
    */
  def compact(df: DataFrame, outPath: String, targetFileBytes: Long,
              inputBytes: Long): Int = {
    require(targetFileBytes >= 1, "targetFileBytes must be positive")
    val q = math.max(1L, (inputBytes + targetFileBytes - 1) / targetFileBytes)
    // A Long→Int wrap would hand repartition a negative count deep inside
    // the write job; any file count near Int range means targetFileBytes
    // was nonsense for this input anyway — fail with the arithmetic shown.
    require(q <= 10_000_000L,
      s"compact would write $q files ($inputBytes bytes / $targetFileBytes " +
        "per file) — raise targetFileBytes")
    val n = q.toInt
    df.repartition(n).write.mode("overwrite").parquet(outPath)
    n
  }

  /** Directory variant: measures input bytes via the Hadoop FileSystem
    * (works for HDFS/S3A/local alike), then [[compact]]s.
    */
  def compactDir(spark: org.apache.spark.sql.SparkSession, inPath: String,
                 outPath: String, targetFileBytes: Long): Int = {
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    compact(spark.read.parquet(inPath), outPath, targetFileBytes, bytes)
  }
}
