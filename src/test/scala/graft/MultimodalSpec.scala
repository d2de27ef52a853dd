package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.operators.Multimodal

class MultimodalSpec extends AnyFunSuite {
  import SparkTestSession._

  private def media = Multimodal.fromDocuments(
    Tables.load(spark, sf01, "documents").limit(50))

  test("fromDocuments: payload bytes round-trip the source text") {
    val row = media.select(col("media_id"), col("data"))
      .filter(col("media_id") === 0).head()
    val src = Tables.load(spark, sf01, "documents")
      .filter(col("doc_id") === 0).select("text").head().getString(0)
    assert(new String(row.getAs[Array[Byte]]("data"), "UTF-8") == src)
  }

  test("plantPngs -> decodeImageFeatures: real codec round-trip matches the rule") {
    val docs = Tables.load(spark, sf01, "documents").limit(20)
    val decoded = Multimodal.decodeImageFeatures(Multimodal.plantPngs(docs))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(decoded.size == 20)
    decoded.foreach { case (id, r) =>
      val (w, h) = (8 + (id % 9).toInt, 8 + (id % 7).toInt)
      assert(r.getBoolean(6), s"media $id must decode via the codec path")
      assert(r.getInt(2) == w && r.getInt(3) == h)
      assert(r.getInt(4) == 1) // grayscale: one band
      val expectedSum = (0 until w * h).map(i => (id * 7 + i * 13) % 256).sum
      assert(r.getLong(5) == expectedSum, s"pixel_sum mismatch for media $id")
      // The payload is a genuine PNG stream, not raw pixels.
    }
    val bytes = Multimodal.plantPngs(docs).select("data").head().getAs[Array[Byte]](0)
    assert(bytes.take(4).sameElements(Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)))
  }

  test("resizePooled: 2x2 box filter matches integer-floor means; stub fallback on non-image") {
    val docs = Tables.load(spark, sf01, "documents").limit(10)
    val pooled = Multimodal.decodeImageFeatures(
      Multimodal.resizePooled(Multimodal.plantPngs(docs), 2))
      .collect().map(r => r.getLong(0) -> r).toMap
    pooled.foreach { case (id, r) =>
      val (w, h) = (8 + (id % 9).toInt, 8 + (id % 7).toInt)
      val (w2, h2) = (w / 2, h / 2)
      assert(r.getInt(2) == w2 && r.getInt(3) == h2)
      def px(i: Long) = (id * 7 + i * 13) % 256
      val expected = (for { by <- 0 until h2; bx <- 0 until w2 } yield {
        val s = (for { dy <- 0 until 2; dx <- 0 until 2 }
          yield px((by * 2 + dy).toLong * w + bx * 2 + dx)).sum
        s / 4
      }).sum
      assert(r.getLong(5) == expected, s"pooled pixel_sum mismatch for media $id")
    }
    // UTF-8 text payloads have no ImageIO reader -> decoded=false fallback.
    val fallback = Multimodal.decodeImageFeatures(media.limit(5)).collect()
    assert(fallback.forall(r => !r.getBoolean(6) && r.isNullAt(2)))
  }

  test("plantWavs -> decodeAudioFeatures: real codec round-trip matches the rule") {
    val docs = Tables.load(spark, sf01, "documents").limit(20)
    val planted = Multimodal.plantWavs(docs)
    // The payload is a genuine RIFF/WAVE stream, not raw samples.
    val bytes = planted.select("data").head().getAs[Array[Byte]](0)
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF" &&
      new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
    val decoded = Multimodal.decodeAudioFeatures(planted)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(decoded.size == 20)
    decoded.foreach { case (id, r) =>
      val rate = 8000 + (id % 5).toInt * 1000
      val n = 64 + (id % 32).toInt
      assert(r.getBoolean(6), s"media $id must decode via the codec path")
      assert(r.getInt(2) == rate && r.getInt(3) == 1)
      assert(r.getLong(4) == n.toLong, s"n_frames mismatch for media $id")
      val expectedSum = (0 until n).map(i => (id * 13 + i * 29) % 256).sum
      assert(r.getLong(5) == expectedSum, s"amp_sum mismatch for media $id")
    }
  }

  test("plantWavs16 -> decode + 2x decimation: signed 16-bit LE round-trip " +
      "matches the rule per channel") {
    val docs = Tables.load(spark, sf01, "documents").limit(20)
    val planted = Multimodal.plantWavs16(docs)
    val bytes = planted.select("data").head().getAs[Array[Byte]](0)
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF" &&
      new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
    def s(id: Long, i: Int, c: Int): Int =
      (((id * 31 + i * 57 + c * 101) % 4001) - 2000).toInt
    def byteSum(v: Int): Long = ((v & 0xFF) + ((v >> 8) & 0xFF)).toLong
    val decoded = Multimodal.decodeAudioFeatures(planted)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(decoded.size == 20)
    decoded.foreach { case (id, r) =>
      val (rate, chs, n) =
        (11000 + (id % 4).toInt * 1000, 1 + ((id / 2) % 2).toInt, 48 + (id % 16).toInt)
      assert(r.getBoolean(6), s"media $id must decode via the codec path")
      assert(r.getInt(2) == rate && r.getInt(3) == chs)
      assert(r.getLong(4) == n.toLong, s"n_frames mismatch for media $id")
      val expected = (for { i <- 0 until n; c <- 0 until chs }
        yield byteSum(s(id, i, c))).sum
      assert(r.getLong(5) == expected, s"amp_sum mismatch for media $id")
    }
    // Decimated: per-channel truncated pair mean, rate halves, odd tail
    // dropped — Java int division (toward zero) on possibly-negative sums.
    val resampled = Multimodal.decodeAudioFeatures(
        Multimodal.resampleAudioDecimated(planted, 2))
      .collect().map(r => r.getLong(0) -> r).toMap
    resampled.foreach { case (id, r) =>
      val (rate, chs, n) =
        (11000 + (id % 4).toInt * 1000, 1 + ((id / 2) % 2).toInt, 48 + (id % 16).toInt)
      assert(r.getBoolean(6) && r.getInt(2) == rate / 2 && r.getInt(3) == chs)
      assert(r.getLong(4) == (n / 2).toLong)
      val expected = (for { j <- 0 until n / 2; c <- 0 until chs }
        yield byteSum((s(id, 2 * j, c) + s(id, 2 * j + 1, c)) / 2)).sum
      assert(r.getLong(5) == expected, s"decimated amp_sum mismatch for $id")
    }
  }

  test("decodeAudioFeatures: undecodable payloads degrade to decoded=false") {
    // UTF-8 text payloads are not a sound stream -> fallback row, not a
    // job failure (the per-row degradation contract shared with images).
    val fallback = Multimodal.decodeAudioFeatures(media.limit(5)).collect()
    assert(fallback.length == 5)
    assert(fallback.forall(r => !r.getBoolean(6) && r.isNullAt(2) &&
      r.isNullAt(4) && r.isNullAt(5)))
  }

  test("minParallelism fans a one-file media table out before the codec pass") {
    val target = spark.sparkContext.defaultParallelism
    // coalesce(1) models an externally-loaded one-file parquet scan.
    val narrow = Multimodal
      .plantPngs(Tables.load(spark, sf01, "documents").limit(64)).coalesce(1)
    assert(narrow.rdd.getNumPartitions == 1)
    val fanned = Multimodal.decodeImageFeatures(narrow, minParallelism = target)
    assert(fanned.rdd.getNumPartitions == target,
      "decode stage must run at defaultParallelism tasks")
    // Default stays a no-op (no extra shuffle for already-wide inputs)...
    val plain = Multimodal.decodeImageFeatures(narrow)
    assert(plain.rdd.getNumPartitions == 1)
    // ...and the fan-out is row-wise transparent: identical values.
    val a = plain.collect().map(_.toString).sorted
    val b = fanned.collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("resizePooled: image smaller than one block passes through unchanged") {
    val docs = Tables.load(spark, sf01, "documents").limit(5)
    val planted = Multimodal.plantPngs(docs) // 8..16 x 8..14 px
    val orig = planted.collect().map(r => r.getLong(0) -> r).toMap
    // factor=32 exceeds every planted dimension: no block completes, so the
    // row must pass through with payload and metadata intact (never an
    // all-zero 1x1 fabrication).
    val out = Multimodal.resizePooled(planted, 32).collect()
    assert(out.length == orig.size)
    out.foreach { r =>
      val o = orig(r.getLong(0))
      assert(r.getAs[Array[Byte]](2).sameElements(o.getAs[Array[Byte]](2)))
      assert(r.getStruct(3) == o.getStruct(3))
    }
  }

  test("sampleFrames: frame count and stride are correct") {
    val frames = Multimodal.sampleFrames(media, frameBytes = 100, everyN = 2)
    val counts = frames.groupBy("media_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lens = media.select(col("media_id"), length(col("data")).as("len"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    lens.foreach { case (id, len) =>
      val expected = (len - 1) / 200 + 1
      assert(counts(id) == expected.toLong,
        s"media $id len=$len frames=${counts(id)} expected=$expected")
    }
    // First frame starts at byte 1 (substr is 1-based) and holds real bytes.
    val f0 = frames.filter(col("media_id") === 0 && col("frame_idx") === 0)
      .select("frame").head().getAs[Array[Byte]](0)
    assert(f0.nonEmpty && f0.length <= 100)
  }

  test("plantGifs -> sampleVideoFrames: real multi-frame codec round-trip " +
      "matches the rule") {
    import SparkTestSession.spark.implicits._
    val docs = (0L until 12L).toDF("doc_id")
    val gifs = Multimodal.plantGifs(docs)
    // Payloads are genuine GIF89a streams.
    val sig = gifs.select(col("data")).head().getAs[Array[Byte]](0)
    assert(new String(sig.take(6), "US-ASCII") == "GIF89a")
    // Sample EVERY frame: indices, count, dims, and per-frame pixel sums
    // must equal the planted closed form — bit-exact through the codec.
    val frames = Multimodal.sampleVideoFrames(gifs, 1).collect()
    assert(frames.forall(_.getBoolean(7)), "all planted gifs must decode")
    val byId = frames.groupBy(_.getLong(0))
    (0L until 12L).foreach { id =>
      val n = 3 + (id % 4).toInt
      val w = 8 + (id % 5).toInt
      val h = 10 + (id % 3).toInt
      val fs = byId(id).sortBy(_.getInt(2))
      assert(fs.length == n, s"id=$id frames=${fs.length} expected=$n")
      fs.zipWithIndex.foreach { case (r, f) =>
        assert(r.getInt(2) == f && r.getInt(3) == n &&
          r.getInt(4) == w && r.getInt(5) == h)
        val expected = (0 until w * h).map(i => (id * 11 + f * 17 + i * 13) % 256).sum
        assert(r.getLong(6) == expected,
          s"id=$id frame=$f sum=${r.getLong(6)} expected=$expected")
      }
    }
    // everyN=2 keeps exactly the even indices.
    val sampled = Multimodal.sampleVideoFrames(gifs, 2).collect()
    sampled.foreach(r => assert(r.getInt(2) % 2 == 0))
    assert(sampled.length ==
      (0L until 12L).map(id => (3 + (id % 4).toInt + 1) / 2).sum)
  }

  test("resizeVideoPooled -> sampleVideoFrames: every pooled frame matches " +
      "the integer-floor means through re-encode") {
    import SparkTestSession.spark.implicits._
    val docs = (0L until 10L).toDF("doc_id")
    val pooled = Multimodal.resizeVideoPooled(Multimodal.plantGifs(docs), 2)
    val frames = Multimodal.sampleVideoFrames(pooled, 1).collect()
    assert(frames.forall(_.getBoolean(7)), "all pooled videos must decode")
    val byId = frames.groupBy(_.getLong(0))
    (0L until 10L).foreach { id =>
      val n = 3 + (id % 4).toInt
      val w = 8 + (id % 5).toInt
      val h = 10 + (id % 3).toInt
      val (w2, h2) = (w / 2, h / 2)
      val fs = byId(id).sortBy(_.getInt(2))
      assert(fs.length == n)
      def px(f: Int, i: Int) = (id * 11 + f * 17 + i * 13) % 256
      fs.foreach { r =>
        val f = r.getInt(2)
        assert(r.getInt(4) == w2 && r.getInt(5) == h2)
        val expected = (for { by <- 0 until h2; bx <- 0 until w2 } yield {
          (for { dy <- 0 until 2; dx <- 0 until 2 }
            yield px(f, (by * 2 + dy) * w + bx * 2 + dx)).sum / 4
        }).sum
        assert(r.getLong(6) == expected,
          s"id=$id frame=$f pooled sum=${r.getLong(6)} expected=$expected")
      }
    }
  }

  test("videoMotionFeatures: consecutive-frame deltas match the rule; " +
      "junk degrades") {
    import SparkTestSession.spark.implicits._
    val docs = (0L until 8L).toDF("doc_id")
    val motion = Multimodal.videoMotionFeatures(Multimodal.plantGifs(docs))
      .collect()
    assert(motion.forall(_.getBoolean(4)))
    motion.foreach { r =>
      val id = r.getLong(0)
      val f = r.getInt(1)
      val w = 8 + (id % 5).toInt
      val h = 10 + (id % 3).toInt
      val expected = (0 until w * h).map { i =>
        math.abs((id * 11 + f * 17 + i * 13) % 256 -
          (id * 11 + (f - 1) * 17 + i * 13) % 256)
      }.sum
      assert(r.getLong(3) == expected,
        s"id=$id frame=$f motion=${r.getLong(3)} expected=$expected")
      assert(f >= 1, "first frame has no predecessor")
    }
    val counts = motion.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    (0L until 8L).foreach(id =>
      assert(counts(id) == 2 + (id % 4).toInt, s"id=$id pair count"))
    val junk = Multimodal.videoMotionFeatures(
      media.limit(3).withColumnRenamed("media_id", "media_id")).collect()
    assert(junk.length == 3 && junk.forall(r => !r.getBoolean(4)))
  }

  test("resampleAudioDecimated: 2x decimation matches integer-floor pair " +
      "means through re-encode; junk passes through") {
    val docs = Tables.load(spark, sf01, "documents").limit(15)
    val decoded = Multimodal.decodeAudioFeatures(
      Multimodal.resampleAudioDecimated(Multimodal.plantWavs(docs), 2))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(decoded.size == 15)
    decoded.foreach { case (id, r) =>
      val rate = 8000 + (id % 5).toInt * 1000
      val n = 64 + (id % 32).toInt
      assert(r.getBoolean(6), s"media $id must decode after resample")
      assert(r.getInt(2) == rate / 2 && r.getLong(4) == (n / 2).toLong)
      def s(i: Int) = ((id * 13 + i * 29) % 256).toInt
      val expected = (0 until n / 2).map(j => (s(2 * j) + s(2 * j + 1)) / 2).sum
      assert(r.getLong(5) == expected,
        s"id=$id amp_sum=${r.getLong(5)} expected=$expected")
    }
    // Non-audio payloads pass through byte-identically (never fabricated).
    val junkIn = media.limit(3).collect().map(r => r.getLong(0) -> r).toMap
    val junkOut = Multimodal.resampleAudioDecimated(media.limit(3), 2).collect()
    junkOut.foreach { r =>
      assert(r.getAs[Array[Byte]](2)
        .sameElements(junkIn(r.getLong(0)).getAs[Array[Byte]](2)))
    }
  }

  test("sampleVideoFrames: undecodable payloads degrade to decoded=false") {
    val junk = media.limit(3) // UTF-8 text payloads — no GIF signature
    val out = Multimodal.sampleVideoFrames(junk, 1).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(!r.getBoolean(7))
      assert(r.isNullAt(2) && r.isNullAt(6))
    }
  }
}
