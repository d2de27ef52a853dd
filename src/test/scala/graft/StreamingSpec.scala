package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams
import graft.streaming.Streams.Event

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ev(id: Long, t: String, user: Long, typ: String, v: Double) =
    Event(id, Timestamp.valueOf(t), user, typ, v)

  test("hourlyEventCounts over a MemoryStream across micro-batches equals " +
    "the batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val agg = Streams.hourlyEventCounts(input.toDF(), watermark = "2 hours")
    val q = agg.writeStream.format("memory").queryName("hourly_mem")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        ev(1, "2025-01-01 10:05:00", 1, "click", 1.0),
        ev(2, "2025-01-01 10:55:00", 2, "click", 2.0))
      q.processAllAvailable()
      input.addData(
        ev(3, "2025-01-01 11:05:00", 1, "view", 3.0),
        ev(4, "2025-01-01 10:30:00", 3, "click", 4.0)) // late but in watermark
      q.processAllAvailable()
      val rows = spark.table("hourly_mem")
        .orderBy("hour", "event_type")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSeq == Seq(
        ("2025-01-01 10:00:00", "click", 3L, 7.0),
        ("2025-01-01 11:00:00", "view", 1L, 3.0)))
    } finally q.stop()
  }

  test("stream-stream inner join runs through StreamingSymmetricHashJoin " +
    "with watermarked state cleanup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val c = clicks.toDF().select(col("user_id"), col("ts").as("click_ts"),
      col("event_id").as("click_id")).withWatermark("click_ts", "1 hour")
    val v = views.toDF().select(col("user_id").as("v_user"), col("ts").as("view_ts"),
      col("event_id").as("view_id")).withWatermark("view_ts", "1 hour")
    val joined = c.join(v,
      expr("""user_id = v_user AND
              view_ts BETWEEN click_ts AND click_ts + INTERVAL 30 MINUTES"""))
    val q = joined.writeStream.format("memory").queryName("ssj_mem")
      .outputMode("append").start()
    try {
      clicks.addData(ev(1, "2025-01-01 10:00:00", 1, "click", 0))
      views.addData(
        ev(100, "2025-01-01 10:10:00", 1, "view", 0), // within 30 min -> match
        ev(101, "2025-01-01 11:10:00", 1, "view", 0), // outside -> no match
        ev(102, "2025-01-01 10:10:00", 2, "view", 0)) // other user -> no match
      q.processAllAvailable()
      val rows = spark.table("ssj_mem")
        .select("user_id", "click_id", "view_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == Seq((1L, 1L, 100L)), rows.mkString(","))
      // The physical operator must be Spark's symmetric hash join.
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { q.explain() }
      assert(buf.toString.contains("StreamingSymmetricHashJoin"), buf.toString)
    } finally q.stop()
  }

  test("sessionizeStreaming: sessions survive micro-batch boundaries and " +
    "emit when the watermark closes them (including via timeout)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = graft.streaming.Streams.sessionizeStreaming(
      input.toDS(), gapSeconds = 1800, watermark = "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_mem")
      .outputMode("append").start()
    def rows() = spark.table("sess_mem")
      .collect().map(s => (s.getLong(0), s.getTimestamp(1).toString,
        s.getLong(2), s.getLong(3))).sortBy(r => (r._1, r._2)).toSeq
    try {
      // Batch 1: two events of user 7's first session.
      input.addData(ev(1, "2025-01-01 10:00:00", 7, "a", 0),
                    ev(2, "2025-01-01 10:10:00", 7, "a", 0))
      q.processAllAvailable()
      assert(rows().isEmpty, "session emitted before the watermark closed it")
      // Batch 2: user 7 reappears much later. The watermark lags one batch
      // (still 10:00 from batch 1), so session 1 stays buffered — correct:
      // emission must wait for the watermark, not the wall clock.
      input.addData(ev(3, "2025-01-01 12:00:00", 7, "a", 0))
      q.processAllAvailable()
      assert(rows().isEmpty, s"emitted before watermark advanced: ${rows()}")
      // Batches 3-4: only user 8 is active; its events advance the
      // watermark past 12:00 + 30min, so user 7's state must flush via
      // EVENT-TIME TIMEOUT — both sessions, in order, with no new user-7
      // events ever arriving.
      input.addData(ev(4, "2025-01-01 14:00:00", 8, "a", 0))
      q.processAllAvailable()
      input.addData(ev(5, "2025-01-01 15:00:00", 8, "a", 0))
      q.processAllAvailable()
      assert(rows() == Seq(
        (7L, "2025-01-01 10:00:00.0", 2L, 600L),
        (7L, "2025-01-01 12:00:00.0", 1L, 0L)),
        s"timed-out sessions not flushed correctly: ${rows()}")
    } finally q.stop()
  }

  test("sessionizeStreaming merges a late event into the right session " +
    "without dragging timestamps backward") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = graft.streaming.Streams.sessionizeStreaming(
      input.toDS(), gapSeconds = 1800, watermark = "1 hour")
    val q = sessions.writeStream.format("memory").queryName("sess_late_mem")
      .outputMode("append").start()
    def rows() = spark.table("sess_late_mem")
      .collect().map(s => (s.getLong(0), s.getTimestamp(1).toString,
        s.getLong(2), s.getLong(3))).sortBy(r => (r._1, r._2)).toSeq
    try {
      // Batch 1: session opens at 12:00.
      input.addData(ev(1, "2025-01-01 12:00:00", 7, "a", 0))
      q.processAllAvailable()
      // Batch 2: a LATE event at 11:55 (within the 1h watermark). It must
      // extend the session's START backward — not drag lastMs to 11:55.
      input.addData(ev(2, "2025-01-01 11:55:00", 7, "a", 0))
      q.processAllAvailable()
      // Batch 3: 12:20 is 20 min after the true last event (12:00) — SAME
      // session. A backward-dragged lastMs of 11:55 would wrongly split.
      input.addData(ev(3, "2025-01-01 12:20:00", 7, "a", 0))
      q.processAllAvailable()
      // Flush via another user advancing the watermark far past the gap.
      input.addData(ev(4, "2025-01-01 16:00:00", 8, "a", 0))
      q.processAllAvailable()
      input.addData(ev(5, "2025-01-01 17:00:00", 8, "a", 0))
      q.processAllAvailable()
      assert(rows() == Seq((7L, "2025-01-01 11:55:00.0", 3L, 1500L)),
        s"late event corrupted the session: ${rows()}")
    } finally q.stop()
  }

  test("streamingDedup drops duplicate keys across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val deduped = graft.streaming.Streams.streamingDedup(
      input.toDF(), Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_mem")
      .outputMode("append").start()
    try {
      input.addData(ev(1, "2025-01-01 10:00:00", 1, "a", 0),
                    ev(2, "2025-01-01 10:01:00", 1, "a", 0),
                    ev(1, "2025-01-01 10:00:00", 1, "a", 0)) // dup in-batch
      q.processAllAvailable()
      input.addData(ev(2, "2025-01-01 10:01:00", 1, "a", 0), // dup cross-batch
                    ev(3, "2025-01-01 10:02:00", 1, "a", 0))
      q.processAllAvailable()
      val ids = spark.table("dedup_mem").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("embeddingsStream staging: a regenerated fixture gets a FRESH " +
    "staged dir keyed by nanosecond mtime, and the stale staging of the " +
    "same fixture path is pruned (ADVICE r17)") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_stage").toString
    def writeFixture(ids: Seq[Long]): Unit = {
      val tmp = dir + "/emb_tmp"
      ids.map(i => (i, Seq(i.toFloat))).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, "embeddings.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def stagedDirs(): Seq[String] = {
      val base = Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_derived")
      val name = Paths.get(dir).getFileName.toString
      if (!Files.isDirectory(base)) Nil
      else {
        val st = Files.list(base)
        try st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(name + "-")).toList
        finally st.close()
      }
    }
    def streamedIds(name: String): Seq[Long] =
      Streams.runToMemory(Streams.embeddingsStream(spark, dir),
          name, mode = OutputMode.Append())
        .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    writeFixture(Seq(1L, 2L))
    assert(streamedIds("stage_v1") == Seq(1L, 2L))
    val firstStaging = stagedDirs()
    assert(firstStaging.size == 1, s"staging dirs: $firstStaging")
    writeFixture(Seq(3L, 4L, 5L))
    assert(streamedIds("stage_v2") == Seq(3L, 4L, 5L),
      "regenerated fixture must be served fresh, not from a stale hardlink")
    val secondStaging = stagedDirs()
    assert(secondStaging.size == 1 && secondStaging != firstStaging,
      s"stale staging must be pruned: before=$firstStaging after=$secondStaging")
  }
}
