package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.engine.Tables

/** Structured Streaming surface: watermarked windowed aggregation and
  * custom session state — the streaming semantics the reference models in
  * its cost layer (`SymmetricHashJoinExec` appears cost-model-only in the
  * reference, SURVEY.md §2.4; here the executable streaming path is Spark's
  * native one, which is the Spark-first answer).
  *
  * All transforms work identically on a batch DataFrame (Spark's unified
  * API), which is how the DuckDB oracle verifies them: the streaming run
  * must converge to the batch answer once all input is processed.
  */
object Streams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class Session(user_id: Long, session_start: Timestamp,
                     n_events: Long, duration_s: Long)

  /** Open-session buffer held in GroupState (public: Catalyst's generated
    * deserializer must be able to call the constructor).
    */
  case class SessionState(startMs: Long, lastMs: Long, nEvents: Long)

  /** Watermarked hourly tumbling-window aggregation per event type. */
  def hourlyEventCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
              col("event_type"), col("n"), col("total_value"))

  /** STREAMING gap sessionization: the full stateful pattern — open
    * sessions live in `GroupState` across micro-batches; a session emits
    * when the event-time watermark passes its last event + gap (either
    * observed while folding that user's new events, or via
    * `EventTimeTimeout` when the user goes quiet). Output is append-mode
    * and final: an emitted session can never reopen because the watermark
    * guarantees no older event arrives.
    */
  def sessionizeStreaming(events: Dataset[Event], gapSeconds: Long = 1800,
                          watermark: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapSeconds * 1000
    def toSession(userId: Long)(s: SessionState): Session =
      Session(userId, new Timestamp(s.startMs), s.nEvents, (s.lastMs - s.startMs) / 1000)
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[List[SessionState]]) =>
          if (state.hasTimedOut) {
            // Watermark passed lastMs + gap with no new events: everything
            // buffered is final.
            val sessions = state.getOption.getOrElse(Nil)
            state.remove()
            sessions.sortBy(_.startMs).iterator.map(toSession(userId))
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var sessions = state.getOption.getOrElse(Nil)
            // Merge each event into the session whose gap-window contains
            // it. Late-but-within-watermark events may target ANY buffered
            // session (not just the newest), and a naive signed
            // `t - head.lastMs <= gap` head-merge would drag lastMs
            // BACKWARD (negative durations, spurious splits). Merging can
            // also bridge two sessions — coalesce after each insert. Lists
            // are per-user session buffers (small); O(|sessions|) per event.
            for (e <- sorted) {
              val t = e.ts.getTime
              val (near, far) = sessions.partition(s =>
                t >= s.startMs - gapMs && t <= s.lastMs + gapMs)
              val merged = near match {
                case Nil => SessionState(t, t, 1)
                case hits =>
                  SessionState(
                    math.min(t, hits.map(_.startMs).min),
                    math.max(t, hits.map(_.lastMs).max),
                    hits.map(_.nEvents).sum + 1)
              }
              sessions = merged :: far
            }
            // Emit sessions the watermark has already closed; keep the rest.
            val wm = state.getCurrentWatermarkMs()
            val (closed, open) = sessions.partition(_.lastMs + gapMs < wm)
            if (open.isEmpty) state.remove()
            else {
              state.update(open)
              state.setTimeoutTimestamp(open.map(_.lastMs).max + gapMs)
            }
            closed.sortBy(_.startMs).iterator.map(toSession(userId))
          }
      }
  }

  /** Stream-stream inner join (Spark's `StreamingSymmetricHashJoinExec` —
    * the operator the reference only COST-MODELS, SURVEY.md §2.4): purchases
    * within `windowMinutes` after a click by the same user. Both sides are
    * watermarked and the join carries the time-range predicate, so each
    * side's state is bounded to the watermark + range window.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        windowMinutes: Int = 30,
                        watermark: String = "1 hour"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", watermark)
    c.join(p, expr(
      s"""c_user = p_user AND
          p_ts >= c_ts AND p_ts <= c_ts + INTERVAL $windowMinutes MINUTES"""))
  }

  /** Streaming exact dedup: drop rows whose key was already seen, with the
    * state bounded by the watermark (a key older than the watermark can be
    * forgotten — the streaming counterpart of [[graft.operators.Dedup.exact]];
    * at 100 TB/day ingest this is the always-on dedup front door, state
    * size O(keys within the watermark window)).
    */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
                     tsCol: String = "ts", watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stage a single fixture parquet file into a scratch DIRECTORY (the
    * file stream source requires one): hardlink when possible, copy
    * otherwise. The staged dir is keyed by the source's absolute path
    * plus (NANOSECOND mtime, length) — millisecond keys could serve a
    * stale hardlink for a fixture regenerated at identical byte size
    * within the same millisecond (ADVICE r17) — and older stagings of
    * the SAME fixture path are pruned on each new version, so
    * regenerations don't accumulate dead directories.
    */
  private def stagedStreamDir(dir: String, fileName: String,
                              sub: String): java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val abs = Paths.get(dir).toAbsolutePath
    val srcFile = abs.resolve(fileName)
    val ver =
      if (Files.exists(srcFile))
        s"${Files.getLastModifiedTime(srcFile)
          .to(java.util.concurrent.TimeUnit.NANOSECONDS)}-${Files.size(srcFile)}"
      else "absent"
    def hex(sd: String): String = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(sd) & 0xffffffffL)
    val base = Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_derived")
    // Two-part key: a stable per-(path, file) prefix, then the version —
    // so stale versions of the same fixture are FINDABLE for pruning
    // while distinct fixtures never collide.
    val prefix = s"${abs.getFileName}-${hex(s"$abs|$fileName")}-"
    val rootName = prefix + hex(ver)
    if (Files.isDirectory(base)) {
      // Best-effort prune: a sibling with the same prefix but a different
      // version hash is by definition stale (the source file changed).
      import scala.jdk.CollectionConverters._
      val st = Files.list(base)
      try st.iterator().asScala.toList
        .filter(p => p.getFileName.toString.startsWith(prefix) &&
          p.getFileName.toString != rootName)
        .foreach { stale =>
          try Files.walk(stale).iterator().asScala.toSeq.reverse
            .foreach(Files.deleteIfExists(_))
          catch { case _: Exception => () }
        }
      finally st.close()
    }
    val streamDir = base.resolve(rootName).resolve(sub)
    val target = streamDir.resolve(fileName)
    if (!Files.exists(target)) {
      Files.createDirectories(streamDir)
      // Concurrent stagers race benignly: whoever loses either step finds
      // the file already present (same source), which is success.
      try Files.createLink(target, srcFile)
      catch { case _: Exception =>
        try Files.copy(srcFile, target)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      }
    }
    streamDir
  }

  /** Read the events table as a FILE STREAM (the parquet file is the
    * micro-batch source), matching `Tables.load`'s nanos handling.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val streamDir = stagedStreamDir(dir, "events.parquet", "events_stream")
    val stream = spark.readStream.schema(Tables.schema(spark, dir, "events"))
      .parquet(streamDir.toString)
    // Same nanos/NTZ/timestamp normalization as the batch path.
    Tables.normalizeEventTs(stream)
  }

  /** Read the embeddings table as a FILE STREAM (the vector-ingest
    * front door: new embedding shards arrive as files). Same staging
    * discipline as [[eventsStream]]; no timestamp columns, so no
    * normalization.
    */
  def embeddingsStream(spark: SparkSession, dir: String): DataFrame = {
    val streamDir =
      stagedStreamDir(dir, "embeddings.parquet", "embeddings_stream")
    spark.readStream.schema(Tables.schema(spark, dir, "embeddings"))
      .parquet(streamDir.toString)
  }

  /** Read the documents table as a FILE STREAM (the crawl front door:
    * new page batches arrive as files). Same staging discipline as
    * [[eventsStream]]; no timestamp columns, so no normalization.
    */
  def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    val streamDir =
      stagedStreamDir(dir, "documents.parquet", "documents_stream")
    spark.readStream.schema(Tables.schema(spark, dir, "documents"))
      .parquet(streamDir.toString)
  }

  // Guards the set-conf → start() → restore-conf window in [[runToMemory]]
  // so concurrent runToMemory calls can't interleave their overrides.
  private val startLock = new Object

  /** Run a streaming DataFrame to completion into a named in-memory sink and
    * return the final result table — how the oracle-gated entries execute a
    * stream synchronously.
    *
    * NOTE: the state-partition override below works by briefly setting the
    * session-global `spark.sql.shuffle.partitions` around `start()` (Spark
    * offers no per-query knob: the stream captures the session conf when it
    * starts). Calls through this method serialize on a lock, but an
    * UNRELATED query planned concurrently on the same SparkSession during
    * that window would observe the reduced value — callers running a
    * multithreaded driver should plan batch work on a separate session.
    */
  /** [[runToMemory]] with mid-stream stages: after all data available at
    * start is fully processed, each `stage` thunk runs ON THE RUNNING
    * query (e.g. offering new units to a [[graft.sources.feed.DynamicWorkUnitFeed]]),
    * followed by another run-to-quiescence — proving that work discovered
    * AFTER earlier micro-batches completed still reaches the same query's
    * result. This is the synchronous-verification shape of the reference's
    * runtime feed (`work_unit_feed.rs:125-180`): coordinator keeps feeding
    * a live query.
    */
  def runToMemoryStaged(df: DataFrame, name: String,
                        stages: Seq[() => Unit],
                        mode: OutputMode = OutputMode.Append(),
                        statePartitions: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val ckptBase =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
        "/dev/shm/graft_ckpt" else sys.props("java.io.tmpdir") + "/graft_ckpt"
    val ckpt = s"$ckptBase/$name-${java.util.UUID.randomUUID()}"
    val q = startLock.synchronized {
      val prev = spark.conf.get(key)
      spark.conf.set(key, statePartitions.toString)
      try df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).outputMode(mode).start()
      finally spark.conf.set(key, prev)
    }
    try {
      q.processAllAvailable()
      stages.foreach { st => st(); q.processAllAvailable() }
    } finally {
      q.stop()
      try {
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        val root = Paths.get(ckpt)
        if (Files.exists(root))
          Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      } catch { case _: Exception => () }
    }
    spark.table(name)
  }

  def runToMemory(df: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Complete(),
                  statePartitions: Int = 8): DataFrame = {
    val spark = df.sparkSession
    // A streaming query fixes its state-store partition count at start from
    // spark.sql.shuffle.partitions and every micro-batch then commits one
    // state file per partition — at 32 partitions the per-batch commit fan-out
    // dominates small streams. 8 keeps parallelism for the aggregation while
    // quartering the state-commit overhead; a production deployment sizes
    // this to state volume, not core count.
    val key = "spark.sql.shuffle.partitions"
    // Checkpoint to tmpfs when available: run-to-completion verification
    // queries don't need crash durability, and the per-batch fsync of state
    // + offset logs to disk otherwise dominates small streams. A production
    // deployment points this at durable storage.
    val ckptBase =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
        "/dev/shm/graft_ckpt" else sys.props("java.io.tmpdir") + "/graft_ckpt"
    val ckpt = s"$ckptBase/$name-${java.util.UUID.randomUUID()}"
    val q = startLock.synchronized {
      val prev = spark.conf.get(key)
      spark.conf.set(key, statePartitions.toString)
      try df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).outputMode(mode).start()
      finally spark.conf.set(key, prev)
    }
    try { q.processAllAvailable() } finally {
      q.stop()
      // Best-effort scratch cleanup — checkpoints are per-run throwaways.
      try {
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        val root = Paths.get(ckpt)
        if (Files.exists(root))
          Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      } catch { case _: Exception => () }
    }
    spark.table(name)
  }
}
