package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Perceptual image near-duplicate detection via 64-bit difference hashing
  * (dHash) — the pixel-level analog of the text family's SimHash: two
  * images that differ only by re-encoding, mild resizing, or small noise
  * land within a few Hamming bits of each other, while unrelated images
  * sit near 32 bits apart. This is the standard re-encoded/resized
  * duplicate detector for image corpora (the modality text MinHash and
  * embedding LSH can't cover: it needs no embedding model and survives
  * codec round trips bit changes).
  *
  * Hash definition (documented exactly because a SQL oracle recomputes it
  * closed-form on planted pixels):
  *  - pool the band-0 (grayscale) raster to a 9×8 grid of integer block
  *    means: cell (y,x) covers rows [y*h/8, max((y+1)*h/8, y*h/8+1)) ×
  *    cols [x*w/9, max((x+1)*w/9, x*w/9+1)), all integer division, mean
  *    floor-divided. The max(...) lower bound keeps every cell non-empty
  *    for images narrower than the grid (w < 9 or h < 8), where it
  *    degenerates to nearest-pixel sampling; for w ≥ 9, h ≥ 8 it is pure
  *    block-mean pooling.
  *  - bit (y*8 + x) of the hash is set iff g(y,x) < g(y,x+1), for
  *    y ∈ [0,8), x ∈ [0,8) — 64 row-adjacent brightness-gradient signs.
  *
  * Scale shape (the part that must survive 100 TB):
  *  - hashing is a narrow mapPartitions over payloads — payloads NEVER
  *    shuffle; only (media_id, 8-byte hash) leaves the decode stage.
  *  - near-dup pairs use SimHash-style banded Hamming bucketing (the
  *    [[graft.functions.HashExpressions]] discipline): the 64-bit hash
  *    splits into 4 disjoint 16-bit band words; by pigeonhole, any pair
  *    within Hamming distance ≤ 3 agrees on at least one whole band, so a
  *    (band, word) equi-self-join has EXACT recall at radius 3 — never an
  *    all-pairs join. Shuffled volume is O(images × 4) slim rows.
  *
  * Reference analog for the discipline (not the implementation): every
  * capability differentially tested, `tests/tpch_correctness_test.rs`.
  */
object ImageHash {

  /** Grid geometry: 9 columns × 8 rows of means → 8×8 adjacent diffs. */
  val GridCols = 9
  val GridRows = 8

  /** Exact-recall radius of the 4-band bucketing (pigeonhole: 4 bands, ≤ 3
    * differing bits → some band untouched).
    */
  val ExactRadius = 3

  /** Output schema of [[dhashSignatures]]: hash + its 4 16-bit band words
    * (small non-negative ints — the oracle-friendly surface; the long form
    * is the join key the pair stage XORs). Undecodable payloads degrade to
    * decoded=false with null hash — one corrupt image must not kill a
    * 100 TB pass.
    */
  val dhashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("dhash", LongType, nullable = true),
    StructField("b0", IntegerType, nullable = true),
    StructField("b1", IntegerType, nullable = true),
    StructField("b2", IntegerType, nullable = true),
    StructField("b3", IntegerType, nullable = true),
    StructField("decoded", BooleanType, nullable = false)))

  /** dHash of a decoded raster's band 0 per the documented grid rule.
    * Shared with [[VideoHash]], whose temporal fingerprint majority-folds
    * this exact per-frame hash.
    */
  private[operators] def dhashOfRaster(raster: java.awt.image.Raster): Long = {
    val w = raster.getWidth
    val h = raster.getHeight
    val g = Array.ofDim[Long](GridRows, GridCols)
    var y = 0
    while (y < GridRows) {
      val y0 = y * h / GridRows
      val y1 = math.max((y + 1) * h / GridRows, y0 + 1)
      var x = 0
      while (x < GridCols) {
        val x0 = x * w / GridCols
        val x1 = math.max((x + 1) * w / GridCols, x0 + 1)
        var sum = 0L
        var r = y0
        while (r < y1) {
          var c = x0
          while (c < x1) { sum += raster.getSample(c, r, 0); c += 1 }
          r += 1
        }
        g(y)(x) = sum / ((y1 - y0).toLong * (x1 - x0))
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var yy = 0
    while (yy < GridRows) {
      var xx = 0
      while (xx < GridCols - 1) {
        if (g(yy)(xx) < g(yy)(xx + 1)) hash |= 1L << (yy * 8 + xx)
        xx += 1
      }
      yy += 1
    }
    hash
  }

  /** REAL decode → dHash: `javax.imageio.ImageIO.read` over the payload,
    * then the grid rule above. Narrow mapPartitions — payloads never leave
    * the scan stage; the output is ~40 bytes/row.
    */
  def dhashSignatures(media: DataFrame, minParallelism: Int = 1): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(dhashSchema)
    Multimodal.fanned(media.select(col("media_id"), col("data")), minParallelism)
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val id = r.getLong(0)
          // positional access: mapPartitions rows carry no schema
          val bytes =
            Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            catch { case _: Exception => null }
          if (img == null) Row(id, null, null, null, null, null, null, null, false)
          else {
            val raster = img.getRaster
            val hash = dhashOfRaster(raster)
            Row(id, raster.getWidth, raster.getHeight, hash,
              ((hash >>> 0) & 0xffffL).toInt, ((hash >>> 16) & 0xffffL).toInt,
              ((hash >>> 32) & 0xffffL).toInt, ((hash >>> 48) & 0xffffL).toInt,
              true)
          }
        }
      }(enc)
  }

  /** Near-dup pairs (id_a < id_b, hamming) within `radius` Hamming bits,
    * via banded bucketing over [[dhashSignatures]] output:
    * explode each hash into its 4 (band, word) rows, gather ids per
    * bucket, generate pairs bucket-locally, then verify with the exact
    * XOR popcount (codegen'd `bit_count`). For radius ≤ [[ExactRadius]]
    * recall is exact by pigeonhole, so the output EQUALS the all-pairs
    * answer — the oracle-verifiable form, same discipline as
    * [[Dedup.nearDupPairs]].
    *
    * @param maxBucketSize skew guard for real corpora (flat-color images
    *   all share band words). Default 1000 — the
    *   [[Dedup.minhashCandidates]] convention — because the 16-bit band
    *   value space saturates by pigeonhole past ~10⁶ images and uncapped
    *   bucket-local pair generation is quadratic (ScaleSmoke: 285 s /
    *   exponent 1.65 at 20× uncapped vs 1.08 capped). Pass
    *   `Long.MaxValue` explicitly where all-pairs oracle EQUALITY is the
    *   point (fixture-scale differential tests); size a real cap from
    *   the band-bucket size histogram — dropped buckets are degenerate
    *   near-identical-image cliques whose pairs quadratically dominate.
    */
  def nearDupPairs(sigs: DataFrame, radius: Int = ExactRadius,
                   maxBucketSize: Long = BandedHamming.DefaultMaxBucketSize)
      : DataFrame =
    BandedHamming.pairs(sigs, "media_id", "dhash", radius, maxBucketSize)

  /** Batch-vs-corpus refresh pairs (corpus_id, batch_id, hamming) — see
    * [[BandedHamming.incrementalPairs]]: a daily image slice dedups
    * against 100 TB of settled corpus without re-pairing the corpus.
    */
  def incrementalNearDupPairs(corpusSigs: DataFrame, batchSigs: DataFrame,
                              radius: Int = ExactRadius,
                              maxBucketSize: Long =
                                BandedHamming.DefaultMaxBucketSize): DataFrame =
    BandedHamming.incrementalPairs(corpusSigs, batchSigs, "media_id", "dhash",
      radius, maxBucketSize)
}
