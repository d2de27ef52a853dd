package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Perceptual VIDEO near-duplicate detection via a 64-bit temporal
  * fingerprint — the sequence analog of [[ImageHash]] (pixels) and
  * [[AudioHash]] (PCM), closing the last modality a training-data
  * pipeline carries without a dedup story: a re-encoded, re-muxed, or
  * frame-sample-rate-shifted duplicate CLIP should keep exactly one
  * copy, like p84 does for audio.
  *
  * Fingerprint definition (documented exactly because a SQL oracle
  * recomputes every bit closed-form on planted frames):
  *  - demux the animated-GIF container with the JDK's real reader
  *    (`getNumImages(true)` — the [[Multimodal.sampleVideoFrames]]
  *    path) and decode every `everyN`-th frame starting at 0.
  *  - per sampled frame, compute the exact [[ImageHash]] dHash: 9×8
  *    grid of integer block means, 64 row-adjacent brightness-gradient
  *    sign bits (the SAME `dhashOfRaster` kernel — one audited grid
  *    rule for both modalities).
  *  - bit b of the temporal fingerprint is set iff a STRICT MAJORITY of
  *    sampled frames set bit b of their frame hash:
  *    `2 × ones(b) > n_sampled` (ties → 0). Majority voting is what
  *    makes the fold robust: a container re-encode preserves every
  *    frame hash (identical fingerprint), and dropping or duplicating a
  *    minority of frames cannot flip a bit that a solid majority
  *    carries.
  *
  * Scale shape (the part that must survive 100 TB):
  *  - fingerprinting is a narrow mapPartitions over payloads — the
  *    heavy video bytes NEVER shuffle; only (media_id, 8-byte
  *    fingerprint) leaves the demux/decode stage. Frame hashes fold
  *    inside the row loop — no per-frame rows are ever materialized.
  *  - near-dup pairs reuse [[BandedHamming]]: 4 disjoint 16-bit bands,
  *    exact recall at Hamming radius 3 by pigeonhole, bucket-capped by
  *    default, never an all-pairs join — and the incremental
  *    batch-vs-corpus refresh shape comes with it.
  */
object VideoHash {

  /** Exact-recall radius of the 4-band bucketing. */
  val ExactRadius: Int = BandedHamming.ExactRadius

  /** Output schema of [[fingerprints]]: the 64-bit temporal fingerprint
    * + its 4 16-bit band words (the oracle-friendly surface; the long
    * form is what the pair stage XORs). Undecodable payloads degrade to
    * decoded=false — one corrupt clip must not kill a 100 TB pass.
    */
  val fingerprintSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_frames", IntegerType, nullable = true),
    StructField("n_sampled", IntegerType, nullable = true),
    StructField("vhash", LongType, nullable = true),
    StructField("b0", IntegerType, nullable = true),
    StructField("b1", IntegerType, nullable = true),
    StructField("b2", IntegerType, nullable = true),
    StructField("b3", IntegerType, nullable = true),
    StructField("decoded", BooleanType, nullable = false)))

  /** Majority-fold of per-frame 64-bit hashes: bit b set iff
    * 2 × (frames with bit b) > frame count. Exposed to the spec for
    * independent re-derivation.
    */
  private[operators] def majorityFold(frameHashes: Seq[Long]): Long = {
    val n = frameHashes.length
    var hash = 0L
    var b = 0
    while (b < 64) {
      var ones = 0
      frameHashes.foreach(h => if (((h >>> b) & 1L) == 1L) ones += 1)
      if (2 * ones > n) hash |= 1L << b
      b += 1
    }
    hash
  }

  /** REAL demux + decode → temporal fingerprint. Narrow mapPartitions —
    * payloads never leave the scan stage; ~40 bytes/row out. Pass
    * `minParallelism` for externally-loaded one-file tables (the media
    * entry-point convention).
    *
    * @param everyN sample every N-th frame starting at frame 0 (the
    *   [[Multimodal.sampleVideoFrames]] convention). 1 = every frame.
    */
  def fingerprints(media: DataFrame, everyN: Int = 1,
                   minParallelism: Int = 1): DataFrame = {
    require(everyN >= 1, "everyN must be >= 1")
    val enc = org.apache.spark.sql.Encoders.row(fingerprintSchema)
    Multimodal.fanned(media.select(col("media_id"), col("data")), minParallelism)
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        // One reader per PARTITION; setInput per row, dispose on task end.
        val reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("gif").next()
        Multimodal.disposeOnTaskEnd(() => reader.dispose())
        rows.map { r =>
          val id = r.getLong(0)
          // positional access: mapPartitions rows carry no schema
          val bytes =
            if (r.isNullAt(1)) Array.emptyByteArray
            else r.getAs[Array[Byte]](1)
          val out =
            try {
              val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
                new java.io.ByteArrayInputStream(bytes))
              try {
                reader.setInput(iis)
                val n = reader.getNumImages(true)
                if (n == 0) null
                else {
                  val sampled = (0 until n by everyN)
                    .map(f => ImageHash.dhashOfRaster(reader.read(f).getRaster))
                  val hash = majorityFold(sampled)
                  Row(id, n, sampled.length, hash,
                    ((hash >>> 0) & 0xffffL).toInt,
                    ((hash >>> 16) & 0xffffL).toInt,
                    ((hash >>> 32) & 0xffffL).toInt,
                    ((hash >>> 48) & 0xffffL).toInt,
                    true)
                }
              } finally iis.close()
            } catch { case _: Exception => null }
          if (out == null)
            Row(id, null, null, null, null, null, null, null, false)
          else out
        }
      }(enc)
  }

  /** Output schema of [[frameHashes]]: one row per frame — the
    * sub-sequence containment substrate (whole-clip [[fingerprints]]
    * majority-fold deliberately NOT applied: containment needs the
    * per-frame sequence).
    */
  val frameHashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_frames", IntegerType, nullable = true),
    StructField("frame_idx", IntegerType, nullable = true),
    StructField("fhash", LongType, nullable = true),
    StructField("w0", IntegerType, nullable = true),
    StructField("w1", IntegerType, nullable = true),
    StructField("w2", IntegerType, nullable = true),
    StructField("w3", IntegerType, nullable = true),
    StructField("decoded", BooleanType, nullable = false)))

  /** REAL demux + decode → one dHash row per frame (the
    * [[AudioHash.windowFingerprints]] analog for video): a clip lifted
    * as a contiguous frame range from a longer video shares the longer
    * clip's frame hashes at every offset, so containment becomes an
    * equi-join on frame hashes plus an alignment count — never a
    * payload comparison. Payloads never shuffle; output is
    * O(frames) slim ~44-byte rows per clip. Undecodable payloads
    * degrade to one `decoded=false` row.
    */
  def frameHashes(media: DataFrame, minParallelism: Int = 1): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(frameHashSchema)
    Multimodal.fanned(media.select(col("media_id"), col("data")), minParallelism)
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        val reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("gif").next()
        Multimodal.disposeOnTaskEnd(() => reader.dispose())
        rows.flatMap { r =>
          val id = r.getLong(0)
          val bytes =
            if (r.isNullAt(1)) Array.emptyByteArray
            else r.getAs[Array[Byte]](1)
          val out: Seq[Row] =
            try {
              val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
                new java.io.ByteArrayInputStream(bytes))
              try {
                reader.setInput(iis)
                val n = reader.getNumImages(true)
                if (n == 0) null
                else (0 until n).map { f =>
                  val h = ImageHash.dhashOfRaster(reader.read(f).getRaster)
                  Row(id, n, f, h,
                    ((h >>> 0) & 0xffffL).toInt,
                    ((h >>> 16) & 0xffffL).toInt,
                    ((h >>> 32) & 0xffffL).toInt,
                    ((h >>> 48) & 0xffffL).toInt,
                    true)
                }
              } finally iis.close()
            } catch { case _: Exception => null }
          if (out == null)
            Seq(Row(id, null, null, null, null, null, null, null, false))
          else out
        }
      }(enc)
  }

  /** Sub-sequence containment pairs over [[frameHashes]] output:
    * (inner_id, outer_id, offset_frames, n_matched) where EVERY frame
    * of the inner clip matches the outer clip's frame at one fixed
    * offset — delegates to [[SequenceContainment.pairs]] (the same
    * audited alignment join the audio side uses; flat-frame degenerate
    * hashes size-filtered before the join).
    */
  def containmentPairs(fh: DataFrame,
                       maxBucketSize: Long = BandedHamming.DefaultMaxBucketSize)
      : DataFrame =
    SequenceContainment.pairs(
        fh.filter(col("decoded") && col("frame_idx").isNotNull),
        "media_id", "frame_idx", "n_frames", "fhash", maxBucketSize)
      .withColumnRenamed("offset_pos", "offset_frames")

  /** Batch-vs-corpus sub-sequence refresh pairs — the
    * [[SequenceContainment.incrementalPairs]] daily-slice shape over
    * frame hashes (same contract as the audio twin).
    */
  def incrementalContainmentPairs(corpusFh: DataFrame, batchFh: DataFrame,
      maxBucketSize: Long = BandedHamming.DefaultMaxBucketSize): DataFrame =
    SequenceContainment.incrementalPairs(
        corpusFh.filter(col("decoded") && col("frame_idx").isNotNull),
        batchFh.filter(col("decoded") && col("frame_idx").isNotNull),
        "media_id", "frame_idx", "n_frames", "fhash", maxBucketSize)
      .withColumnRenamed("offset_pos", "offset_frames")

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
    BandedHamming.pairs(sigs, "media_id", "vhash", radius, maxBucketSize)

  /** Batch-vs-corpus refresh pairs (corpus_id, batch_id, hamming) — see
    * [[BandedHamming.incrementalPairs]]: a daily video slice dedups
    * against the settled corpus without re-pairing it.
    */
  def incrementalNearDupPairs(corpusSigs: DataFrame, batchSigs: DataFrame,
                              radius: Int = ExactRadius,
                              maxBucketSize: Long =
                                BandedHamming.DefaultMaxBucketSize): DataFrame =
    BandedHamming.incrementalPairs(corpusSigs, batchSigs, "media_id", "vhash",
      radius, maxBucketSize)
}
