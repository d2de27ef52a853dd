package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BandedHamming

/** The shared banded-Hamming cap contract, batch side included: a
  * pathological BATCH (every row sharing all four band words — a
  * flat-color daily slice) must be droppable by the same cap that
  * guards the corpus side, bounding candidate volume symmetrically.
  */
class BandedHammingSpec extends AnyFunSuite {
  import SparkTestSession._

  private def sigsOf(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, h) =>
      (id, h, ((h >>> 0) & 0xffffL).toInt, ((h >>> 16) & 0xffffL).toInt,
        ((h >>> 32) & 0xffffL).toInt, ((h >>> 48) & 0xffffL).toInt, true)
    }.toDF("media_id", "fhash", "b0", "b1", "b2", "b3", "decoded")
  }

  test("incrementalPairs caps the BATCH side symmetrically: a planted " +
    "pathological batch is dropped when the cap binds, kept when it " +
    "doesn't, and the default cap is a fixture-scale no-op") {
    // Corpus: 5 rows at one hash; batch: 20 identical rows at the same
    // hash (the degenerate clique).
    val corpus = sigsOf((0L until 5L).map(_ -> 0xABCD0000L))
    val batch = sigsOf((100L until 120L).map(_ -> 0xABCD0000L))
    val uncapped = BandedHamming.incrementalPairs(corpus, batch,
      "media_id", "fhash", maxBucketSize = Long.MaxValue)
    assert(uncapped.count() == 100, "5 corpus x 20 batch at distance 0")
    // cap 10: corpus buckets (size 5) survive, batch buckets (size 20)
    // drop -> candidate volume collapses to zero.
    assert(BandedHamming.incrementalPairs(corpus, batch,
      "media_id", "fhash", maxBucketSize = 10).count() == 0)
    // cap 1000 (the default): no-op at fixture scale.
    assert(BandedHamming.incrementalPairs(corpus, batch,
        "media_id", "fhash").count() == 100)
    // A HEALTHY batch row alongside the clique keeps its pairs when the
    // clique's buckets drop: per-bucket treatment, not per-batch.
    val mixed = batch.unionByName(sigsOf(Seq(500L -> 0x1234000055660000L)))
    val corpus2 = corpus.unionByName(sigsOf(Seq(7L -> 0x1234000055660000L)))
    val capped = BandedHamming.incrementalPairs(corpus2, mixed,
        "media_id", "fhash", maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((7L, 500L)),
      "healthy batch rows must survive a sibling clique's drop")
  }
}

object BandedHammingSpec {
  import org.apache.spark.sql.functions._

  /** Band-bucket size histogram of a banded-Hamming signature frame (b0..b3
    * band words, decoded rows only): one row per bucket size with the
    * number of buckets of that size and whether the `maxBucketSize` cap of
    * [[BandedHamming.pairs]] drops them.
    */
  def bucketStats(sigs: DataFrame, maxBucketSize: Long): DataFrame =
    sigs.filter(col("decoded"))
      .select(posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band", "word")))
      .groupBy(col("band"), col("word")).agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("bucket_size")).agg(count(lit(1)).as("n_buckets"))
      .withColumn("dropped_by_cap", col("bucket_size") > maxBucketSize)
}
