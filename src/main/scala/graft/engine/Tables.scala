package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructType,
  TimestampNTZType, TimestampType}

/** Table registry over the driver-generated parquet directories.
  *
  * Mirrors the reference's table registration surface
  * (`/root/reference/tests/tpch_correctness_test.rs:166-173` `register_tables`):
  * tables are collections of parquet files registered against a session. In
  * Spark the idiomatic equivalent is `spark.read.parquet` + temp views, with
  * Catalyst handling pushdown/pruning against the files.
  */
object Tables {
  /** Dimension tables small enough to always broadcast at any scale factor. */
  val dims: Seq[String] = Seq("region", "nation", "supplier", "part")
  /** Fact tables that scale with sf and shuffle on their keys. */
  val facts: Seq[String] =
    Seq("customer", "orders", "lineitem", "events", "documents", "embeddings")
  val all: Seq[String] = dims ++ facts

  /** Normalize whatever physical encoding `events.ts` arrives in to a plain
    * session-tz TIMESTAMP. The fixture has been regenerated with different
    * encodings across rounds — TIMESTAMP(NANOS) (reads as LongType under the
    * nanosAsLong legacy flag), then TIMESTAMP(µs, isAdjustedToUTC=false)
    * (reads as TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ default) — and
    * every downstream event-time consumer (`withWatermark`, `unix_micros`,
    * as-of joins) requires TimestampType. Matching on the observed type
    * absorbs the next re-encoding instead of failing on it; the reference's
    * correctness suites survive fixture regeneration the same way
    * (`tests/tpch_correctness_test.rs:204-218` regenerates data on demand).
    * Session timeZone is UTC (GraftSession.defaultConf), so a naive-µs cast
    * denotes the same instants DuckDB reads.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    if (!df.schema.fieldNames.contains("ts")) df
    else df.schema("ts").dataType match {
      // nanos-as-long legacy: truncate to µs with integer `div`, not double
      // division — ns-since-epoch exceeds double's 53-bit mantissa.
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df // already TimestampType (or a future sane encoding)
    }

  /** Normalize the embeddings table against fixture-regeneration drift of
    * the kind that broke events in round 7: the typed vector kernels
    * (`dot_f`, `l2sq_f`, `sign_project` — [[graft.functions.VectorExpressions]])
    * require `array<float>`, and ids join as long. A regenerated fixture
    * that stores `array<double>` (numpy's default dtype) or a narrower id
    * would otherwise fail ~15 p-queries on type plumbing, zero on
    * semantics — so absorb it here, at the single load site.
    */
  def normalizeEmbeddings(df: DataFrame): DataFrame = {
    val f = df.schema.fieldNames.toSet
    val vecFixed =
      if (f.contains("embedding") && (df.schema("embedding").dataType match {
        case ArrayType(FloatType, _) => false
        case ArrayType(_, _) => true
        case _ => false
      })) df.withColumn("embedding", col("embedding").cast(ArrayType(FloatType)))
      else df
    if (f.contains("vec_id") && vecFixed.schema("vec_id").dataType != LongType)
      vecFixed.withColumn("vec_id", col("vec_id").cast(LongType))
    else vecFixed
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // Both flags live in GraftSession.defaultConf; set them here too for
      // sessions not built through GraftSession (idempotent, session-global):
      // nanosAsLong lets TIMESTAMP(NANOS) files read at all, and
      // inferTimestampNTZ=false reads naive-µs files directly as
      // TimestampType (UTC session) rather than TIMESTAMP_NTZ.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    }
    val df = spark.read.schema(schema(spark, dir, name))
      .parquet(s"$dir/$name.parquet")
    name match {
      case "events" => normalizeEventTs(df)
      case "embeddings" => normalizeEmbeddings(df)
      case _ => df
    }
  }

  /** Fixture table `name`'s schema as stored, read from its parquet footer
    * on the driver with the converter Spark's own inference uses, under the
    * session's current conf. Spark's inference reads the same footer inside
    * a one-task job; reading it here lets every [[load]] build its frame
    * with no job. A directory table gives the schema of its first data
    * file, as Spark's non-merging inference does. Read on every call, so a
    * regenerated fixture's new types reach the normalizers.
    */
  def schema(spark: SparkSession, dir: String, name: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val first = dataFiles(conf, dir, name).headOption.getOrElse(
      throw new java.io.FileNotFoundException(
        s"no parquet data file in $dir/$name.parquet"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(first, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The data files of fixture table `name` through the Hadoop
    * FileSystem (the fixture dir may be any Hadoop-FS URI): the file
    * itself, or a directory table's part files in name order, skipping
    * the `_`/`.` names Spark's file listing skips.
    */
  private def dataFiles(conf: Configuration, dir: String,
                        name: String): Seq[FileStatus] = {
    val p = new Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(p).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)
  }

  /** Scale-adaptive fan-out for EXPENSIVE NARROW work over a small scan
    * (r18 optimization round, guide §2.5 "input skew: one huge
    * unsplittable file → repartition immediately after the read"): a
    * single-row-group parquet file scans as ONE split no matter what
    * `maxPartitionBytes` says, pinning every shingle/regex/vector kernel
    * that follows to a single task — at bench SF the whole documents
    * table is one split, so the text/vector operators ran 1-wide on a
    * 32-core session. The condition derives from INPUT SIZE, not a local
    * constant: fan out only when the scan's estimated split count is
    * under half the session's parallelism — at 100 TB scans split
    * naturally into thousands of tasks, the condition is false, and no
    * payload shuffle is added. Hash on the id column (deterministic,
    * retry-safe — never `rand()`, guide §2.5).
    */
  def fanOutIfNarrow(df: DataFrame, keyCol: String, fileBytes: Long): DataFrame = {
    val spark = df.sparkSession
    if (isNarrow(spark, fileBytes))
      df.repartition(spark.sparkContext.defaultParallelism, col(keyCol))
    else df
  }

  /** The one size-derived predicate: whether a scan of `bytes` is NARROW
    * for this session — its estimated split count is under half the
    * session parallelism. A frame derived from a narrow fixture scan is
    * small by construction; one derived from a naturally-splitting corpus
    * is not. False at 100 TB and on stat failure (`Long.MaxValue`).
    */
  def isNarrow(spark: SparkSession, bytes: Long): Boolean = {
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val splits = math.max(1L, (bytes - 1) / maxSplit + 1)
    splits * 2 < spark.sparkContext.defaultParallelism
  }

  /** Hadoop-FS byte size of a fixture table. Hadoop FileSystem, not
    * java.io.File: the fixture dir may be any Hadoop-FS URI (file:/,
    * hdfs:/, s3a:/), and a local-FS
    * stat of a remote path reads 0 bytes, which would flip size-derived
    * conditions the WRONG way at cluster scale. getContentSummary
    * handles both a single parquet file and a directory-table of part
    * files. Stat failure returns Long.MaxValue — size-derived rules must
    * take their SCALE branch on missing information.
    */
  def tableBytes(spark: SparkSession, dir: String, name: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case _: Exception => Long.MaxValue }

  /** [[load]] + [[fanOutIfNarrow]] keyed on `keyCol` — the entry point
    * for corpora feeding expensive narrow operators (text shingling,
    * vector math). Separate from [[load]] on purpose: relational queries
    * shuffle at their first join/agg anyway, so fanning their scans
    * would add an exchange for nothing.
    */
  def loadFanned(spark: SparkSession, dir: String, name: String,
                 keyCol: String): DataFrame =
    fanOutIfNarrow(load(spark, dir, name), keyCol,
      tableBytes(spark, dir, name))

  /** Register selected tables as temp views named after the table —
    * prefer this in query builders over [[registerAll]] so a query does not
    * pay schema reads for the 10-table catalog it doesn't touch.
    */
  def register(spark: SparkSession, dir: String, names: String*): Unit = {
    // Bare fixture names collide with suite adapter views (`customer`,
    // `orders`, ...) — any fixture bind invalidates the suite marker so
    // the next suite register re-binds. Conversely, fixture tables
    // already bound pristine for this dir (tracked in CatalogState, reset
    // whenever a suite shadows them) are skipped, so a stretch of
    // same-family queries stops rebuilding the same views per query.
    if (CatalogState.suiteBound(spark)) CatalogState.invalidate(spark)
    // The pristine-skip token carries each data file's (length,
    // modification time) plus a hash of its parquet footer: an in-place
    // fixture regeneration mid-session (plausible with the long-lived
    // Shell) changes the token, so the table counts as missing and
    // re-binds instead of serving the stale view. Stat alone leaves a
    // residual — a deterministic same-size rewrite within the
    // filesystem's mtime resolution would slip through — so the footer
    // probe (one bounded pread of the whole metadata thrift, whose
    // row-group offsets/stats change with the data) closes it. Both go
    // through the Hadoop FileSystem, as [[tableBytes]] does: a local
    // `java.io.File` stat of a `file:` URI or a remote path reads nothing,
    // and every such token would match every other.
    val conf = spark.sessionState.newHadoopConf()
    def tag(n: String): String = {
      val token =
        try dataFiles(conf, dir, n).map(f =>
          s"${f.getLen}:${f.getModificationTime}:${footerProbe(conf, f)}")
          .mkString(";")
        catch { case _: Exception => "-2" }
      s"$n@$token"
    }
    val tags = names.map(tag)
    val missing = CatalogState.missingFixture(spark, dir, tags)
      .map(_.takeWhile(_ != '@'))
    missing.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
    if (missing.nonEmpty) CatalogState.recordFixture(spark, dir, tags)
  }

  /** Hash of the ENTIRE parquet footer (footerLen + 8 trailer bytes, one
    * bounded pread) — the content component of the pristine-skip token.
    * The footer carries the full metadata thrift (row-group offsets,
    * column statistics), so any rewrite that changes the data changes
    * these bytes even when file length and mtime don't; hashing all of it
    * (not a tail window) means a >4 KB footer whose differences fall
    * early in the thrift cannot slip through. A corrupt footerLen clamps
    * to the file length — worst case one full read of a file the
    * subsequent bind would fail on anyway. Unreadable/short files hash to
    * a sentinel, which still forces a re-bind (and the bind then surfaces
    * the real error).
    */
  private def footerProbe(conf: Configuration, f: FileStatus): Int =
    try {
      val in = f.getPath.getFileSystem(conf).open(f.getPath)
      try {
        val len = f.getLen
        if (len < 8) -1
        else {
          val b4 = new Array[Byte](4)
          in.readFully(len - 8, b4)
          val footerLen = java.nio.ByteBuffer.wrap(b4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
          val probeLen =
            math.min(math.max(footerLen, 0).toLong + 8L, len).toInt
          val buf = new Array[Byte](probeLen)
          in.readFully(len - probeLen, buf)
          scala.util.hashing.MurmurHash3.bytesHash(buf, 0x9747b28c)
        }
      } finally in.close()
    } catch { case _: Exception => -2 }

  /** Register every table as a temp view named after the table. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    register(spark, dir, all: _*)

  /** Write `df` as a single plain parquet FILE at `target` — the fixture
    * layout (one file per table, not a directory), which DuckDB's
    * `FROM '<path>'` and the driver's readers expect. Shared by the
    * fixture-derivation tools (SliceFixture, EmptySweep). */
  def writeSingleParquet(df: DataFrame, target: java.io.File): Unit = {
    val tmp = new java.io.File(target.getParentFile,
      s".write-tmp-${target.getName}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")) match {
      case Array(p) => p
      case other => throw new IllegalStateException(
        s"expected exactly one part file in $tmp, found ${other.length}")
    }
    java.nio.file.Files.move(part.toPath, target.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }
}
