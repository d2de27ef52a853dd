package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AudioHash, Multimodal}

class AudioHashSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ids(n: Int) = {
    import spark.implicits._
    (0L until n.toLong).toDF("doc_id")
  }

  /** Reference fingerprint straight from the documented bin rule, no
    * codec — the pure-Scala twin the sound-stack path must reproduce
    * (independent re-derivation, NOT a call into AudioHash).
    */
  private def refFingerprint(n: Int, chs: Int, amp: (Int, Int) => Long): Long = {
    val e = (0 until 65).map { b =>
      val f0 = (b.toLong * n / 65).toInt
      val f1 = math.max(((b + 1).toLong * n / 65).toInt, f0 + 1)
      val vals = for (f <- f0 until f1; c <- 0 until chs) yield amp(f, c)
      vals.sum / ((f1 - f0).toLong * chs)
    }
    (0 until 64).foldLeft(0L) { (h, i) =>
      if (e(i) < e(i + 1)) h | (1L << i) else h
    }
  }

  /** 16-bit signed LE mono WAV with the given samples, via the same JDK
    * sound stack real corpora decode with.
    */
  private def wav16(samples: Array[Int], rate: Int = 8000): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(i * 2) = (s & 0xFF).toByte
      pcm(i * 2 + 1) = ((s >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      rate.toFloat, 16, 1, 2, rate.toFloat, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def mediaDf(rows: Seq[(Long, Array[Byte])]) = {
    import spark.implicits._
    rows.toDF("media_id", "data")
  }

  test("fingerprints over planted 8-bit WAVs equal the closed-form bin rule " +
    "(real sound-stack decode vs pure arithmetic)") {
    val got = AudioHash.fingerprints(Multimodal.plantWavs(ids(40)))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size == 40)
    (0L until 40L).foreach { id =>
      val n = 64 + (id % 32).toInt
      val want = refFingerprint(n, 1,
        (f, _) => math.abs(((id * 13 + f * 29) % 256) - 128))
      val r = got(id)
      assert(r.getAs[Boolean]("decoded"))
      assert(r.getAs[Int]("channels") == 1)
      assert(r.getAs[Int]("n_frames") == n)
      assert(r.getAs[Long]("fhash") == want,
        s"id=$id: got ${r.getAs[Long]("fhash")}, want $want")
      // Band words are the fingerprint's 4 disjoint 16-bit chunks.
      val rebuilt = (r.getAs[Int]("b0").toLong & 0xffffL) |
        ((r.getAs[Int]("b1").toLong & 0xffffL) << 16) |
        ((r.getAs[Int]("b2").toLong & 0xffffL) << 32) |
        ((r.getAs[Int]("b3").toLong & 0xffffL) << 48)
      assert(rebuilt == want, s"id=$id band words disagree with fingerprint")
    }
  }

  test("fingerprints over planted 16-bit WAVs (mono AND stereo) equal the " +
    "closed-form bin rule") {
    val got = AudioHash.fingerprints(Multimodal.plantWavs16(ids(40)))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size == 40)
    (0L until 40L).foreach { id =>
      val n = 48 + (id % 16).toInt
      val chs = 1 + ((id / 2) % 2).toInt
      val want = refFingerprint(n, chs,
        (f, c) => math.abs((id * 31 + f * 57 + c * 101) % 4001 - 2000))
      val r = got(id)
      assert(r.getAs[Boolean]("decoded"))
      assert(r.getAs[Int]("channels") == chs)
      assert(r.getAs[Int]("n_frames") == n)
      assert(r.getAs[Long]("fhash") == want,
        s"id=$id: got ${r.getAs[Long]("fhash")}, want $want")
    }
  }

  test("fingerprint-grade plant (plantWavsFp) equals the closed-form bin " +
    "rule and mints no natural near-dups at fixture scale") {
    val got = AudioHash.fingerprints(Multimodal.plantWavsFp(ids(60)))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size == 60)
    (0L until 60L).foreach { id =>
      val n = 180 + (id % 40).toInt
      val want = refFingerprint(n, 1, (f, _) =>
        math.abs((id * 31 + f.toLong * f * (13 + id % 89) + f * 57L) % 4001L
          - 2000L))
      val r = got(id)
      assert(r.getAs[Boolean]("decoded") && r.getAs[Int]("n_frames") == n)
      assert(r.getAs[Long]("fhash") == want, s"id=$id fp mismatch")
    }
    // The shape-varying rule keeps distinct ids apart: no hamming<=3
    // pairs among 60 distinct clips (the reason p83/p84 plant THIS
    // corpus instead of the phase-only legacy rules).
    assert(AudioHash.nearDupPairs(
      AudioHash.fingerprints(Multimodal.plantWavsFp(ids(60)))).count() == 0)
  }

  test("container re-encode round trip is fingerprint-invariant; " +
    "nearDupPairs finds every copy at distance 0") {
    val base = Multimodal.plantWavs16(ids(50))
    // factor-1 "resample" = decode -> identity PCM -> re-encode: a pure
    // container round trip through the real writer.
    val copies = Multimodal.resampleAudioDecimated(base, 1)
      .withColumn("media_id", col("media_id") + 1000L)
    val pairs = AudioHash.nearDupPairs(
        AudioHash.fingerprints(base.unionByName(copies)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    (0L until 50L).foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + 1000L && p._3 == 0),
        s"copy pair ($id, ${id + 1000L}) missing or not at distance 0")
    }
  }

  test("factor-2 decimation preserves the fingerprint when bins align: " +
    "resampled clip pairs with its original") {
    // 260 frames = 65 bins x 4 frames, constant amplitude within each
    // bin: decimation by 2 averages two EQUAL samples, so every bin mean
    // survives exactly and the fingerprint is bit-identical — the
    // deterministic core of resample robustness (real clips add sub-unit
    // truncation jitter that only flips bins whose means differ by < 2).
    val binVal = (b: Int) => ((b * 37) % 101) - 50
    val samples = Array.tabulate(260)(f => binVal(f / 4))
    val orig = mediaDf(Seq(1L -> wav16(samples)))
      .withColumn("modality", lit("audio"))
      .withColumn("meta", struct(lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"), lit(8000).as("sample_rate"),
        lit("audio/wav").as("content_type")))
    val resampled = Multimodal.resampleAudioDecimated(orig, 2)
      .withColumn("media_id", lit(2L))
    val sigs = AudioHash.fingerprints(
      orig.select(col("media_id"), col("data"))
        .unionByName(resampled.select(col("media_id"), col("data"))))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(sigs(1L).getAs[Int]("n_frames") == 260)
    assert(sigs(2L).getAs[Int]("n_frames") == 130)
    assert(sigs(1L).getAs[Long]("fhash") == sigs(2L).getAs[Long]("fhash"),
      "decimation moved the fingerprint despite aligned constant bins")
    val pairs = AudioHash.nearDupPairs(AudioHash.fingerprints(
      orig.select(col("media_id"), col("data"))
        .unionByName(resampled.select(col("media_id"), col("data")))))
      .collect()
    assert(pairs.length == 1 && pairs.head.getInt(2) == 0)
  }

  test("corrupt, truncated, and non-audio payloads degrade to " +
    "decoded=false; nearDupPairs ignores them") {
    val good = wav16(Array.tabulate(100)(i => (i * 31) % 500 - 250))
    val junk = mediaDf(Seq(
      1L -> "not audio at all".getBytes("UTF-8"),
      2L -> Array.emptyByteArray,
      3L -> good.take(20), // torn header
      4L -> good))
    val sigs = AudioHash.fingerprints(junk).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("decoded")).toMap
    assert(sigs == Map(1L -> false, 2L -> false, 3L -> false, 4L -> true))
    assert(AudioHash.nearDupPairs(AudioHash.fingerprints(junk)).count() == 0)
  }

  test("unsupported PCM shapes (e.g. big-endian 16-bit) degrade rather " +
    "than fingerprint garbage") {
    val samples = Array.tabulate(80)(i => (i * 13) % 400 - 200)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(i * 2) = ((s >> 8) & 0xFF).toByte // big-endian
      pcm(i * 2 + 1) = (s & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, true)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val rows = AudioHash.fingerprints(mediaDf(Seq(1L -> bos.toByteArray)))
      .collect()
    // The JDK WAV writer normalizes to little-endian on write, so this
    // either decodes cleanly (is16) or degrades — it must never throw
    // and never emit a null-hash decoded=true row.
    rows.foreach { r =>
      if (r.getAs[Boolean]("decoded")) assert(!r.isNullAt(4))
      else assert(r.isNullAt(4))
    }
  }

  test("pair generation never goes cartesian: plan has no " +
    "CartesianProduct / BroadcastNestedLoopJoin") {
    val plan = AudioHash.nearDupPairs(
      AudioHash.fingerprints(Multimodal.plantWavs16(ids(30))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("radius beyond the 4-band exact-recall bound is rejected") {
    val sigs = AudioHash.fingerprints(Multimodal.plantWavs16(ids(4)))
    intercept[IllegalArgumentException] {
      AudioHash.nearDupPairs(sigs, radius = 4)
    }
  }

  test("bucket cap: no-op at fixture scale, drops degenerate cliques when " +
    "binding, bandBucketStats reports the histogram") {
    val base = Multimodal.plantWavs16(ids(40))
    val copies = Multimodal.resampleAudioDecimated(base, 1)
      .withColumn("media_id", col("media_id") + 1000L)
    val sigs = AudioHash.fingerprints(base.unionByName(copies))
    val uncapped = AudioHash.nearDupPairs(sigs, maxBucketSize = Long.MaxValue)
      .collect().toSet
    val capped = AudioHash.nearDupPairs(sigs, maxBucketSize = 1000L)
      .collect().toSet
    assert(uncapped == capped, "cap 1000 must be a no-op at fixture scale")
    assert(AudioHash.nearDupPairs(sigs, maxBucketSize = 1L).count() == 0)
    val stats = BandedHammingSpec.bucketStats(sigs, maxBucketSize = 1L).collect()
    assert(stats.nonEmpty)
    assert(stats.filter(_.getAs[Boolean]("dropped_by_cap"))
      .map(_.getAs[Long]("n_buckets")).sum > 0)
  }
}
