package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Perceptual audio near-duplicate detection via a 64-bit energy-delta
  * fingerprint — the PCM analog of [[ImageHash]]'s dHash and the last
  * dedup modality a training-data pipeline carries: two clips that differ
  * only by a container re-encode, mild resampling, or low-level noise
  * land within a few Hamming bits of each other, while unrelated clips
  * sit near 32 bits apart. This is the time-domain core of the standard
  * audio-fingerprint family (Haitsma–Kalker-style sign-of-energy-delta
  * bits, here over time bins instead of spectral bands so a SQL oracle
  * can recompute every bit closed-form with no FFT).
  *
  * Fingerprint definition (documented exactly because a DuckDB oracle
  * recomputes it on planted samples):
  *  - decode the WAV payload (the REAL `javax.sound.sampled` path shared
  *    with [[Multimodal.decodeAudioFeatures]]); supported PCM shapes are
  *    the same two [[Multimodal.resampleAudioDecimated]] handles — 8-bit
  *    unsigned mono and 16-bit signed little-endian at any channel
  *    count. Anything else (or an undecodable payload) degrades to
  *    `decoded=false` — one corrupt clip must not kill a 100 TB pass.
  *  - amplitude of a sample = |s − 128| for 8-bit unsigned, |s| for
  *    16-bit signed (distance from the format's zero line).
  *  - pool the frames into [[Bins]] = 65 time bins of integer mean
  *    amplitude: bin b covers frames [b*n/65, max((b+1)*n/65, b*n/65+1))
  *    (integer division; the max(...) keeps every bin non-empty for
  *    clips shorter than 65 frames, where it degenerates to
  *    nearest-frame sampling — the [[ImageHash]] grid rule in 1-D),
  *    e(b) = floor(Σ amplitude over the bin's frames × channels
  *                 / (frames_in_bin × channels)).
  *  - bit b of the fingerprint is set iff e(b) < e(b+1), for b ∈ [0,64)
  *    — 64 adjacent-bin energy-gradient signs. Mean (not sum) per bin is
  *    what makes the bits survive decimation: a factor-f resample
  *    preserves bin means up to sub-unit truncation error, so any two
  *    bins whose means differ by ≥ 2 keep their sign bit.
  *
  * Scale shape (the part that must survive 100 TB):
  *  - fingerprinting is a narrow mapPartitions over payloads — payloads
  *    NEVER shuffle; only (media_id, 8-byte fingerprint) leaves the
  *    decode stage.
  *  - near-dup pairs reuse [[BandedHamming]]: 4 disjoint 16-bit bands,
  *    exact recall at Hamming radius 3 by pigeonhole, bucket-capped by
  *    default, never an all-pairs join.
  */
object AudioHash {

  /** Time-bin count: 65 bins → 64 adjacent-bin delta bits. */
  val Bins = 65

  /** Exact-recall radius of the 4-band bucketing. */
  val ExactRadius: Int = BandedHamming.ExactRadius

  /** Output schema of [[fingerprints]]: the 64-bit fingerprint + its 4
    * 16-bit band words (small non-negative ints — the oracle-friendly
    * surface; the long form is what the pair stage XORs).
    */
  val fingerprintSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("n_frames", IntegerType, nullable = true),
    StructField("fhash", LongType, nullable = true),
    StructField("b0", IntegerType, nullable = true),
    StructField("b1", IntegerType, nullable = true),
    StructField("b2", IntegerType, nullable = true),
    StructField("b3", IntegerType, nullable = true),
    StructField("decoded", BooleanType, nullable = false)))

  /** Fingerprint of a PCM clip given per-(frame, channel) amplitudes. */
  private[operators] def fingerprintOf(n: Int, chs: Int,
                                       amp: (Int, Int) => Long): Long = {
    val e = new Array[Long](Bins)
    var b = 0
    while (b < Bins) {
      // Long arithmetic: b*n overflows Int past ~33M frames (a ~12.5-min
      // mono 44.1 kHz clip), which would silently mis-bin long clips.
      val f0 = (b.toLong * n / Bins).toInt
      val f1 = math.max(((b + 1).toLong * n / Bins).toInt, f0 + 1)
      var sum = 0L
      var f = f0
      while (f < f1) {
        var c = 0
        while (c < chs) { sum += amp(f, c); c += 1 }
        f += 1
      }
      e(b) = sum / ((f1 - f0).toLong * chs)
      b += 1
    }
    var hash = 0L
    var i = 0
    while (i < Bins - 1) {
      if (e(i) < e(i + 1)) hash |= 1L << i
      i += 1
    }
    hash
  }

  /** REAL decode → fingerprint: `javax.sound.sampled` over the payload,
    * then the bin rule above. Narrow mapPartitions — payloads never
    * leave the scan stage; the output is ~40 bytes/row. Pass
    * `minParallelism` for externally-loaded one-file tables (the media
    * entry-point convention).
    */
  def fingerprints(media: DataFrame, minParallelism: Int = 1): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(fingerprintSchema)
    Multimodal.fanned(media.select(col("media_id"), col("data")), minParallelism)
      .mapPartitions { rows =>
        val readers = new Multimodal.AudioReadDispatch(Multimodal.audioReaders())
        rows.map { r =>
          val id = r.getLong(0)
          // positional access: mapPartitions rows carry no schema
          val bytes =
            Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
          val out =
            try {
              val ais = readers.read(bytes)
              if (ais == null) null
              else {
                val fmt = ais.getFormat
                val is8 = fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1 &&
                  fmt.getEncoding ==
                    javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
                val is16 = fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
                  fmt.getEncoding ==
                    javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
                if (!is8 && !is16) null
                else {
                  val pcm = Multimodal.drainPcm(ais, bytes.length)
                  val chs = if (is8) 1 else fmt.getChannels
                  val frameBytes = if (is8) 1 else 2 * chs
                  val n = pcm.length / frameBytes
                  if (n == 0) null
                  else {
                    val hash =
                      if (is8)
                        fingerprintOf(n, 1,
                          (f, _) => math.abs((pcm(f) & 0xFF) - 128).toLong)
                      else
                        fingerprintOf(n, chs, { (f, c) =>
                          val off = (f * chs + c) * 2
                          val s = ((pcm(off) & 0xFF) |
                            (pcm(off + 1).toInt << 8)).toShort.toInt
                          math.abs(s).toLong
                        })
                    Row(id, fmt.getSampleRate.toInt, chs, n, hash,
                      ((hash >>> 0) & 0xffffL).toInt,
                      ((hash >>> 16) & 0xffffL).toInt,
                      ((hash >>> 32) & 0xffffL).toInt,
                      ((hash >>> 48) & 0xffffL).toInt,
                      true)
                  }
                }
              }
            } catch { case _: Exception => null }
          if (out == null)
            Row(id, null, null, null, null, null, null, null, null, false)
          else out
        }
      }(enc)
  }

  /** Output schema of [[windowFingerprints]]: one row per sliding
    * window, plus the clip-level geometry the containment stage needs.
    */
  val windowFingerprintSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_frames", IntegerType, nullable = true),
    StructField("n_wins", IntegerType, nullable = true),
    StructField("win_idx", IntegerType, nullable = true),
    StructField("whash", LongType, nullable = true),
    StructField("w0", IntegerType, nullable = true),
    StructField("w1", IntegerType, nullable = true),
    StructField("w2", IntegerType, nullable = true),
    StructField("w3", IntegerType, nullable = true),
    StructField("decoded", BooleanType, nullable = false)))

  /** Sliding-window fingerprints — the sub-clip containment substrate
    * (the windowed form of [[fingerprints]], the audio-fingerprint
    * literature's standard move for segment search: a short clip lifted
    * from a longer one shares the longer clip's window fingerprints at
    * every hop-aligned offset, so containment becomes an EQUI-JOIN on
    * window hashes plus a consecutive-alignment count — never a
    * cross-join of payloads). Window w covers frames
    * [w·hop, w·hop + win); n_wins = (n − win)/hop + 1 (0 when the clip
    * is shorter than one window — such clips emit a single
    * win_idx=NULL row so downstream can still count them).
    *
    * Scale shape: the decode stays a narrow mapPartitions (payloads
    * never shuffle); the output is O(frames/hop) slim ~44-byte rows per
    * clip. Undecodable payloads degrade to one `decoded=false` row.
    */
  def windowFingerprints(media: DataFrame, win: Int, hop: Int,
                         minParallelism: Int = 1): DataFrame = {
    require(win > 0 && hop > 0, "win and hop must be positive")
    val enc = org.apache.spark.sql.Encoders.row(windowFingerprintSchema)
    Multimodal.fanned(media.select(col("media_id"), col("data")), minParallelism)
      .mapPartitions { rows =>
        val readers = new Multimodal.AudioReadDispatch(Multimodal.audioReaders())
        rows.flatMap { r =>
        val id = r.getLong(0)
        val bytes =
          Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        val out: Seq[Row] =
          try {
            val ais = readers.read(bytes)
            if (ais == null) null
            else {
              val fmt = ais.getFormat
              val is8 = fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1 &&
                fmt.getEncoding ==
                  javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
              val is16 = fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
                fmt.getEncoding ==
                  javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
              if (!is8 && !is16) null
              else {
                val pcm = Multimodal.drainPcm(ais, bytes.length)
                val chs = if (is8) 1 else fmt.getChannels
                val frameBytes = if (is8) 1 else 2 * chs
                val n = pcm.length / frameBytes
                if (n == 0) null
                else {
                  val amp: (Int, Int) => Long =
                    if (is8) (f, _) => math.abs((pcm(f) & 0xFF) - 128).toLong
                    else { (f, c) =>
                      val off = (f * chs + c) * 2
                      val s = ((pcm(off) & 0xFF) |
                        (pcm(off + 1).toInt << 8)).toShort.toInt
                      math.abs(s).toLong
                    }
                  val nw = if (n >= win) (n - win) / hop + 1 else 0
                  if (nw == 0)
                    Seq(Row(id, n, 0, null, null, null, null, null, null, true))
                  else (0 until nw).map { w =>
                    val h = fingerprintOf(win, chs,
                      (f, c) => amp(w * hop + f, c))
                    Row(id, n, nw, w, h,
                      ((h >>> 0) & 0xffffL).toInt,
                      ((h >>> 16) & 0xffffL).toInt,
                      ((h >>> 32) & 0xffffL).toInt,
                      ((h >>> 48) & 0xffffL).toInt,
                      true)
                  }
                }
              }
            }
          } catch { case _: Exception => null }
        if (out == null)
          Seq(Row(id, null, null, null, null, null, null, null, null, false))
        else out
        }
      }(enc)
  }

  /** Sub-clip containment pairs over [[windowFingerprints]] output:
    * (inner_id, outer_id, offset_wins, n_wins) where EVERY window of the
    * inner clip matches the outer clip's window at one fixed offset —
    * i.e. the inner clip's samples are (perceptually) a contiguous
    * hop-aligned segment of the outer clip. Equal-length mutual matches
    * emit one direction (inner_id < outer_id).
    *
    * Scale shape: delegates to [[SequenceContainment.pairs]] — ONE
    * audited alignment-join implementation for audio windows and video
    * frames alike (the [[BandedHamming]] sharing precedent): slim-row
    * equi-join on the 64-bit window hash, degenerate hashes (digital
    * silence, constant tones) size-filtered BEFORE the join with the
    * house default cap.
    */
  def containmentPairs(wf: DataFrame,
                       maxBucketSize: Long = BandedHamming.DefaultMaxBucketSize)
      : DataFrame =
    SequenceContainment.pairs(
        wf.filter(col("decoded") && col("win_idx").isNotNull),
        "media_id", "win_idx", "n_wins", "whash", maxBucketSize)
      .withColumnRenamed("offset_pos", "offset_wins")
      .withColumnRenamed("n_matched", "n_wins")

  /** Batch-vs-corpus sub-clip refresh pairs — the
    * [[SequenceContainment.incrementalPairs]] daily-slice shape over
    * window fingerprints (corpus windows never re-joined against
    * themselves; ids disjoint across sides by the offset convention).
    */
  def incrementalContainmentPairs(corpusWf: DataFrame, batchWf: DataFrame,
      maxBucketSize: Long = BandedHamming.DefaultMaxBucketSize): DataFrame =
    SequenceContainment.incrementalPairs(
        corpusWf.filter(col("decoded") && col("win_idx").isNotNull),
        batchWf.filter(col("decoded") && col("win_idx").isNotNull),
        "media_id", "win_idx", "n_wins", "whash", maxBucketSize)
      .withColumnRenamed("offset_pos", "offset_wins")
      .withColumnRenamed("n_matched", "n_wins")

  /** Near-dup pairs (id_a < id_b, hamming) within `radius` Hamming bits
    * over [[fingerprints]] output — delegates to [[BandedHamming.pairs]]
    * (4×16-bit banding, exact recall at radius ≤ [[ExactRadius]], exact
    * XOR-popcount verify). Default bucket cap 1000 (the house
    * convention); pass `Long.MaxValue` only where all-pairs oracle
    * equality is the point.
    */
  def nearDupPairs(sigs: DataFrame, radius: Int = ExactRadius,
                   maxBucketSize: Long = BandedHamming.DefaultMaxBucketSize)
      : DataFrame =
    BandedHamming.pairs(sigs, "media_id", "fhash", radius, maxBucketSize)

  /** Batch-vs-corpus refresh pairs (corpus_id, batch_id, hamming) — see
    * [[BandedHamming.incrementalPairs]]: a daily audio slice dedups
    * against the settled corpus without re-pairing it.
    */
  def incrementalNearDupPairs(corpusSigs: DataFrame, batchSigs: DataFrame,
                              radius: Int = ExactRadius,
                              maxBucketSize: Long =
                                BandedHamming.DefaultMaxBucketSize): DataFrame =
    BandedHamming.incrementalPairs(corpusSigs, batchSigs, "media_id", "fhash",
      radius, maxBucketSize)
}
