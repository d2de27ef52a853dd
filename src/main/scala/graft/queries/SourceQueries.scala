package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.HashExpressions
import graft.sources.{feed, DerivedSources}
import Relational.{dsum, osum}

/** Source-format and custom-keyed-shuffle coverage:
  *  - q48: CSV scan (explicit schema, header) must agree with the parquet
  *    oracle on the same rows.
  *  - q49: hive-partitioned scan with a partition-pruning filter (the plan
  *    assertion lives in SourcesSpec; the result assertion lives here).
  *  - q50: shuffle keyed by a custom Catalyst expression
  *    (`ascii_sum(text) % 16`) — the engine must hash-partition on a key it
  *    cannot see through (`/root/reference/tests/udfs.rs:18-76`).
  */
object SourceQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q48_csv_source" -> ((s, dir) => {
      DerivedSources.supplierCsv(s, dir)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
             dsum(col("s_acctbal"), 2).as("total_acctbal"))
        .orderBy(col("s_nationkey"))
    }),

    "q49_hive_partitioned" -> ((s, dir) => {
      DerivedSources.ordersHivePartitioned(s, dir)
        .filter(col("o_year") === 1997)
        .groupBy(month(col("o_orderdate")).as("o_month"))
        .agg(count(lit(1)).as("n_orders"),
             dsum(col("o_totalprice"), 2).as("total"))
        .orderBy(col("o_month"))
    }),

    // Read supplier through the work-unit-feed V2 source: the driver-side
    // provider hands out CSV file paths at execution time (reference
    // `src/work_unit_feed/`); result must equal the parquet oracle.
    "q51_work_unit_feed" -> ((s, dir) => {
      val files = DerivedSources.supplierCsvFiles(s, dir)
      val feedId = s"supplier-$dir"
      feed.WorkUnitFeedRegistry.register(feedId,
        () => files.map(feed.CsvWorkUnit(_, header = true)))
      s.read.format("graft.sources.feed.WorkUnitFeedTableProvider")
        .option("feed.id", feedId)
        .option("schema",
          "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .load()
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
             max(col("s_acctbal")).as("max_acctbal"))
        .orderBy(col("s_nationkey"))
    }),

    // Mid-query work discovery (reference `work_unit_feed.rs:125-180`):
    // the feed starts with ONE unit; the remaining units are offered only
    // AFTER the running streaming query has fully processed everything
    // available at start — so rows from late-discovered units reaching the
    // result proves runtime discovery, not planning-time snapshot. The
    // aggregate over the memory sink must equal the full-supplier oracle.
    // feed.maxUnitsPerBatch=1 exercises the admission cap on the same run.
    "q83_feed_discovery" -> ((s, dir) => {
      val files = DerivedSources.supplierCsvMultiFiles(s, dir)
      val feedId =
        s"supplier-dyn-${java.util.UUID.randomUUID().toString.take(8)}"
      val f = feed.DynamicWorkUnitFeed.create(feedId)
      val (first, rest) = files.splitAt(1)
      f.offer(first.map(p => feed.CsvWorkUnit(p, header = true)))
      val stream = s.readStream
        .format("graft.sources.feed.WorkUnitFeedTableProvider")
        .option("feed.id", feedId)
        .option("feed.maxUnitsPerBatch", "1")
        .option("schema",
          "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .load()
      val sink = s"q83_${feedId.replace("-", "_")}"
      val all = graft.streaming.Streams.runToMemoryStaged(stream, sink,
        stages = Seq(() => {
          f.offer(rest.map(p => feed.CsvWorkUnit(p, header = true)))
          f.close()
        }))
      feed.DynamicWorkUnitFeed.remove(feedId)
      all.groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
             max(col("s_acctbal")).as("max_acctbal"))
        .orderBy(col("s_nationkey"))
    }),

    "q50_expr_keyed_shuffle" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .groupBy((HashExpressions.asciiSum(col("text")) % 16).as("hk"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("total_chars"))
        .orderBy(col("hk"))
    }),

    "q52_orc_source" -> ((s, dir) => {
      DerivedSources.partOrc(s, dir)
        .filter(col("p_size") >= 25)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
             dsum(col("p_retailprice"), 2).as("total_price"))
        .orderBy(col("p_brand"))
    }),

    // Avro object-container source: supplier written as .avro (Avro core
    // libs; spark-avro isn't bundled), read back through the AvroWorkUnit
    // V2 partition reader; result must equal the parquet oracle.
    "q69_avro_source" -> ((s, dir) => {
      val file = DerivedSources.supplierAvroFile(s, dir)
      val feedId = s"supplier-avro-$dir"
      feed.WorkUnitFeedRegistry.register(feedId, () => Seq(feed.AvroWorkUnit(file)))
      s.read.format("graft.sources.feed.WorkUnitFeedTableProvider")
        .option("feed.id", feedId)
        .option("schema",
          "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .load()
        .filter(col("s_acctbal") > 0)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
             dsum(col("s_acctbal"), 2).as("total_acctbal"))
        .orderBy(col("s_nationkey"))
    }),

    // Structured Streaming: the events file streamed through a watermarked
    // hourly window agg, run to completion — must converge to the batch
    // (DuckDB) answer over the same file.
    "q53_stream_hourly" -> ((s, dir) => {
      import graft.streaming.Streams
      Streams.runToMemory(
        Streams.hourlyEventCounts(Streams.eventsStream(s, dir)),
        name = "q53_mem")
        .orderBy(col("hour"), col("event_type"))
    }),

    // JSON-lines source: documents metadata written as JSONL, read back
    // through the JSON scan with explicit schema; must equal the parquet
    // oracle.
    "q75_json_source" -> ((s, dir) => {
      DerivedSources.documentsJson(s, dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("source"), col("lang"))
    }),

    // Stream-stream inner join run to completion: purchases within 30
    // minutes after a click by the same user; the joined rows land in the
    // memory sink (append mode) and are aggregated batch-side per click.
    // Must equal DuckDB's time-range join over the same file.
    "q70_stream_join" -> ((s, dir) => {
      import graft.streaming.Streams
      import org.apache.spark.sql.streaming.OutputMode
      // Self-join of ONE stream source: both sides share the scan; the
      // symmetric-hash-join state is still per-side.
      val ev = Streams.eventsStream(s, dir)
      Streams.runToMemory(
        Streams.clickPurchaseJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase")),
        name = "q70_mem", mode = OutputMode.Append(), statePartitions = 2)
        .groupBy(col("click_id"))
        .agg(count(lit(1)).as("n_purchases"),
             dsum(col("value"), 6).as("total_value"))
        .orderBy(col("click_id"))
    }),

    // Streaming exact dedup (`dropDuplicatesWithinWatermark`): the events
    // file is replayed TWICE (two independent file-stream scans unioned),
    // so every event_id arrives exactly duplicated; the watermarked dedup
    // state must drop the replays and converge to the batch aggregate over
    // the original file. This is the exactly-once ingest front door at
    // 100 TB/day — state is bounded by keys within the watermark window.
    "q81_stream_dedup" -> ((s, dir) => {
      import graft.streaming.Streams
      import org.apache.spark.sql.streaming.OutputMode
      val doubled = Streams.eventsStream(s, dir)
        .union(Streams.eventsStream(s, dir))
      Streams.runToMemory(
        Streams.streamingDedup(doubled, Seq("event_id")),
        name = "q81_mem", mode = OutputMode.Append())
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("total_value"))
        .orderBy(col("event_type"))
    }),

    // STREAMING gap sessionization run to completion: open sessions live in
    // flatMapGroupsWithState across micro-batches and flush via event-time
    // timeout. A far-future sentinel event (from a unioned MemoryStream)
    // pushes the final watermark past every real session's close, so the
    // run-to-completion result equals DuckDB's batch gap sessionization.
    // All comparisons are at MILLISECOND precision on both sides
    // (Timestamp.getTime truncates the parquet microseconds to ms, so the
    // oracle groups and measures on epoch_ms too).
    "q82_stream_sessions" -> ((s, dir) => {
      import graft.streaming.Streams
      import graft.streaming.Streams.Event
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val sentinel = MemoryStream[Event]
      sentinel.addData(Event(-1L,
        java.sql.Timestamp.valueOf("2024-06-01 00:00:00"), -1L, "z", 0.0))
      val ev = Streams.eventsStream(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")).as[Event]
      Streams.runToMemory(
        Streams.sessionizeStreaming(
          ev.union(sentinel.toDS()), gapSeconds = 1800,
          watermark = "10 minutes").toDF(),
        name = "q82_mem", mode = OutputMode.Append())
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
          unix_millis(col("session_start")).as("session_start_ms"),
          col("n_events"), col("duration_s"))
        .orderBy(col("user_id"), col("session_start_ms"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q48_csv_source" ->
      s"""SELECT s_nationkey, count(*) AS n_suppliers,
          ${osum("s_acctbal", 2)} AS total_acctbal
        FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",

    "q49_hive_partitioned" ->
      s"""SELECT cast(extract(month FROM o_orderdate) AS integer) AS o_month,
          count(*) AS n_orders, ${osum("o_totalprice", 2)} AS total
        FROM orders WHERE extract(year FROM o_orderdate) = 1997
        GROUP BY o_month ORDER BY o_month""",

    "q50_expr_keyed_shuffle" ->
      """SELECT cast(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) % 16 AS bigint) AS hk,
              count(*) AS n_docs, cast(sum(n_chars) AS bigint) AS total_chars
         FROM documents GROUP BY hk ORDER BY hk""",

    "q51_work_unit_feed" ->
      """SELECT s_nationkey, count(*) AS n_suppliers,
              max(s_acctbal) AS max_acctbal
         FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",

    // Identical oracle to q51 on purpose: late-discovered units must
    // change NOTHING about the result — the full supplier table arrives
    // either way; only the discovery timing differs.
    "q83_feed_discovery" ->
      """SELECT s_nationkey, count(*) AS n_suppliers,
              max(s_acctbal) AS max_acctbal
         FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",

    "q52_orc_source" ->
      s"""SELECT p_brand, count(*) AS n_parts,
          ${osum("p_retailprice", 2)} AS total_price
        FROM part WHERE p_size >= 25
        GROUP BY p_brand ORDER BY p_brand""",

    "q53_stream_hourly" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
          event_type, count(*) AS n, ${osum("value", 6)} AS total_value
        FROM events GROUP BY hour, event_type ORDER BY hour, event_type""",

    "q69_avro_source" ->
      s"""SELECT s_nationkey, count(*) AS n_suppliers,
          ${osum("s_acctbal", 2)} AS total_acctbal
        FROM supplier WHERE s_acctbal > 0
        GROUP BY s_nationkey ORDER BY s_nationkey""",

    "q75_json_source" ->
      """SELECT source, lang, count(*) AS n_docs,
              cast(sum(n_chars) AS bigint) AS total_chars
         FROM documents GROUP BY source, lang ORDER BY source, lang""",

    "q70_stream_join" ->
      s"""SELECT c.event_id AS click_id, count(*) AS n_purchases,
          ${osum("p.value", 6)} AS total_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        GROUP BY click_id ORDER BY click_id""",

    // The doubled stream deduplicates back to the original file, so the
    // oracle is the PLAIN aggregate (event_id is unique in the table).
    "q81_stream_dedup" ->
      s"""SELECT event_type, count(*) AS n, ${osum("value", 6)} AS total_value
        FROM events GROUP BY event_type ORDER BY event_type""",

    // Batch gap sessionization at ms precision: a session breaks when more
    // than 1800s (in whole ms) pass between consecutive events of a user.
    "q82_stream_sessions" ->
      """WITH g AS (
           SELECT user_id, epoch_ms(ts) AS tms, event_id,
             CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                    OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                  THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
         ), s AS (
           SELECT user_id, tms, event_id,
             sum(new_s) OVER (PARTITION BY user_id
               ORDER BY tms, event_id ROWS UNBOUNDED PRECEDING) AS sid
           FROM g
         )
         SELECT user_id, min(tms) AS session_start_ms,
                count(*) AS n_events,
                (max(tms) - min(tms)) // 1000 AS duration_s
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, session_start_ms"""
  )
}
