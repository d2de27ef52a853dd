package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Banded-Hamming near-dup pair machinery shared by every 64-bit
  * perceptual fingerprint family ([[ImageHash]] dHash over pixels,
  * [[AudioHash]] energy-delta fingerprints over PCM): a 64-bit signature
  * splits into 4 disjoint 16-bit band words; by pigeonhole, any pair
  * within Hamming distance ≤ 3 agrees on at least one whole band, so a
  * (band, word) equi-self-join has EXACT recall at radius
  * [[ExactRadius]] — never an all-pairs join. Shuffled volume is
  * O(rows × 4) slim (id, band, word) rows; candidate pairs are verified
  * with the exact XOR popcount (codegen'd `bit_count`).
  *
  * Same discipline as [[Dedup.minhashCandidates]]' MinHash-LSH banding:
  * size-filter BEFORE `collect_list` (the bucket-size window shares the
  * (band, word) partitioning with the groupBy — no extra shuffle), and
  * cap bucket size by default because the 16-bit band value space
  * saturates by pigeonhole past ~10⁶ rows, making uncapped bucket-local
  * pair generation quadratic (ScaleSmoke: 285 s / exponent 1.65 at 20×
  * uncapped vs 1.08 capped, round 14).
  */
object BandedHamming {

  /** Exact-recall radius of the 4-band bucketing (pigeonhole: 4 bands,
    * ≤ 3 differing bits → some band untouched).
    */
  val ExactRadius = 3

  /** Default bucket cap — the [[Dedup.minhashCandidates]] convention.
    * Pass `Long.MaxValue` only where all-pairs oracle EQUALITY is the
    * point (fixture-scale differential tests).
    */
  val DefaultMaxBucketSize = 1000L

  /** Near-dup pairs (id_a < id_b, hamming) within `radius` Hamming bits
    * over a signature frame carrying `idCol`, `hashCol` (the 64-bit
    * signature), its band words `b0..b3` (16-bit chunks, low to high)
    * and a `decoded` boolean (undecodable rows are skipped — one corrupt
    * payload must not kill a 100 TB pass). For radius ≤ [[ExactRadius]]
    * recall is exact by pigeonhole, so the output EQUALS the all-pairs
    * answer whenever no bucket overflows `maxBucketSize`.
    */
  def pairs(sigs: DataFrame, idCol: String, hashCol: String,
            radius: Int = ExactRadius,
            maxBucketSize: Long = DefaultMaxBucketSize): DataFrame = {
    require(radius <= ExactRadius,
      s"radius=$radius exceeds the 4-band exact-recall bound $ExactRadius; " +
        "raise the band count before widening the radius")
    val slim = sigs.filter(col("decoded"))
      .select(col(idCol).as("id"), col(hashCol).as("__h"))
    val wb = Window.partitionBy(col("band"), col("word"))
    val buckets = sigs.filter(col("decoded"))
      .select(col(idCol).as("id"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
          .as(Seq("band", "word")))
      .withColumn("__bsz", count(lit(1)).over(wb))
      .filter(col("__bsz") >= 2 && col("__bsz") <= maxBucketSize)
      .groupBy(col("band"), col("word"))
      .agg(collect_list(col("id")).as("ids"))
    val cand = buckets
      .select(explode(pairCombos(array_sort(col("ids")))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Re-attach the 8-byte hashes to the (small) candidate set and verify
    // exactly: XOR + popcount, both codegen'd built-ins.
    cand
      .join(slim.select(col("id").as("id_a"), col("__h").as("ha")), Seq("id_a"))
      .join(slim.select(col("id").as("id_b"), col("__h").as("hb")), Seq("id_b"))
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("hamming") <= radius)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Incremental-refresh shape of [[pairs]] — the
    * [[Dedup.incrementalNearDupPairs]] discipline for perceptual
    * fingerprints: when 100 TB of images/audio are already deduplicated
    * and a daily slice arrives, only batch×corpus pairs matter
    * (corpus×corpus was settled when the corpus was built; batch×batch
    * is a separate, much smaller [[pairs]] call). Both sides explode to
    * slim (id, band, word) rows; candidates come from the (band, word)
    * equi-join of the batch bands against the capped corpus buckets — so
    * shuffled volume is O((corpus+batch) × 4) slim rows and exact-verify
    * cost is O(candidates), never corpus×batch. The corpus-side band
    * relation is corpus-lifetime-stable: persist it once and every
    * future batch reuses it. Exact recall at radius ≤ [[ExactRadius]]
    * by the same pigeonhole (a batch item within radius of a corpus
    * item agrees with it on at least one whole band).
    *
    * @param maxBucketSize skew cap applied SYMMETRICALLY to both sides'
    *   band buckets (same contract as [[pairs]]): a degenerate corpus
    *   bucket is dropped before the cross-side join, and a degenerate
    *   BATCH bucket (a flat-color daily slice sharing all four band
    *   words) is dropped the same way — without it a pathological batch
    *   generates batch_size × cap candidates through every band.
    *   Candidate volume is therefore ≤ min(batch, cap) × 4 × cap.
    * @return (corpus_id, batch_id, hamming) within `radius`.
    */
  def incrementalPairs(corpusSigs: DataFrame, batchSigs: DataFrame,
                       idCol: String, hashCol: String,
                       radius: Int = ExactRadius,
                       maxBucketSize: Long = DefaultMaxBucketSize): DataFrame = {
    require(radius <= ExactRadius,
      s"radius=$radius exceeds the 4-band exact-recall bound $ExactRadius; " +
        "raise the band count before widening the radius")
    def bands(sigs: DataFrame): DataFrame = sigs.filter(col("decoded"))
      .select(col(idCol).as("id"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
          .as(Seq("band", "word")))
    // Cap degenerate buckets on BOTH sides BEFORE the cross-side join
    // (symmetric treatment: a flat-color batch is as degenerate as a
    // flat-color corpus), and size-filter BEFORE collect_list (collected
    // arrays stay hard-bounded by the cap; each window shares its
    // groupBy/join partitioning).
    val wb = Window.partitionBy(col("band"), col("word"))
    val okCorpus = bands(corpusSigs)
      .withColumn("__bsz", count(lit(1)).over(wb))
      .filter(col("__bsz") <= maxBucketSize)
      .groupBy(col("band"), col("word"))
      .agg(collect_list(col("id")).as("cids"))
    val okBatch = bands(batchSigs)
      .withColumn("__bsz", count(lit(1)).over(wb))
      .filter(col("__bsz") <= maxBucketSize)
      .drop("__bsz")
    val cand = okBatch
      .join(okCorpus, Seq("band", "word"))
      .select(explode(col("cids")).as("corpus_id"), col("id").as("batch_id"))
      .dropDuplicates("corpus_id", "batch_id")
    val slimC = corpusSigs.filter(col("decoded"))
      .select(col(idCol).as("corpus_id"), col(hashCol).as("__hc"))
    val slimB = batchSigs.filter(col("decoded"))
      .select(col(idCol).as("batch_id"), col(hashCol).as("__hb"))
    cand
      .join(slimC, Seq("corpus_id"))
      .join(slimB, Seq("batch_id"))
      .withColumn("hamming",
        bit_count(col("__hc").bitwiseXOR(col("__hb"))).cast("int"))
      .filter(col("hamming") <= radius)
      .select(col("corpus_id"), col("batch_id"), col("hamming"))
  }

  /** All ordered pairs (x, y) with x < y from a sorted array. */
  private def pairCombos(sorted: Column) =
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + 2, greatest(size(sorted) - i - 1, lit(0))),
        y => struct(x.as("a"), y.as("b")))))
}
