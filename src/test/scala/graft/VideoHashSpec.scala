package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Multimodal, VideoHash}

class VideoHashSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ids(n: Int) = {
    import spark.implicits._
    (0L until n.toLong).toDF("doc_id")
  }

  /** Reference per-frame dHash straight from the documented 9×8 grid
    * rule — independent re-derivation, NOT a call into ImageHash.
    */
  private def refDhash(w: Int, h: Int, px: Int => Int): Long = {
    val g = Array.ofDim[Long](8, 9)
    for (y <- 0 until 8; x <- 0 until 9) {
      val y0 = y * h / 8; val y1 = math.max((y + 1) * h / 8, y0 + 1)
      val x0 = x * w / 9; val x1 = math.max((x + 1) * w / 9, x0 + 1)
      val vals =
        for (r <- y0 until y1; c <- x0 until x1) yield px(r * w + c).toLong
      g(y)(x) = vals.sum / vals.length
    }
    (for (y <- 0 until 8; x <- 0 until 8) yield (y, x)).foldLeft(0L) {
      case (acc, (y, x)) =>
        if (g(y)(x) < g(y)(x + 1)) acc | (1L << (y * 8 + x)) else acc
    }
  }

  /** Reference strict-majority fold: bit set iff 2×ones > frame count. */
  private def refMajority(hs: Seq[Long]): Long =
    (0 until 64).foldLeft(0L) { (acc, b) =>
      if (2 * hs.count(h => ((h >>> b) & 1L) == 1L) > hs.length)
        acc | (1L << b)
      else acc
    }

  /** Expected fingerprint of a planted clip under a pixel rule, sampled
    * every `everyN`-th frame.
    */
  private def refFingerprint(id: Long, nFrames: Int, w: Int, h: Int,
                             everyN: Int, px: (Int, Int) => Int): Long =
    refMajority((0 until nFrames by everyN)
      .map(f => refDhash(w, h, i => px(f, i))))

  /** Hand-built animated GIF with explicit per-frame pixels, via the
    * same lossless 256-gray palette the plants use.
    */
  private def gifOf(w: Int, h: Int, frames: Seq[Int => Int]): Array[Byte] = {
    val gray = Array.tabulate[Byte](256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, gray, gray, gray)
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach { px =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
      val raster = img.getRaster
      var i = 0
      while (i < w * h) { raster.setSample(i % w, i / w, 0, px(i)); i += 1 }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  private def mediaDf(rows: Seq[(Long, Array[Byte])]) = {
    import spark.implicits._
    rows.toDF("media_id", "data")
  }

  test("fingerprints over planted legacy GIFs equal the closed-form " +
    "per-frame grid rule + majority fold (real demux vs pure arithmetic)") {
    val got = VideoHash.fingerprints(Multimodal.plantGifs(ids(40)))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size == 40)
    (0L until 40L).foreach { id =>
      val n = 3 + (id % 4).toInt
      val w = 8 + (id % 5).toInt
      val h = 10 + (id % 3).toInt
      val want = refFingerprint(id, n, w, h, 1,
        (f, i) => ((id * 11 + f * 17 + i * 13) % 256).toInt)
      val r = got(id)
      assert(r.getAs[Boolean]("decoded"))
      assert(r.getAs[Int]("n_frames") == n)
      assert(r.getAs[Int]("n_sampled") == n)
      assert(r.getAs[Long]("vhash") == want,
        s"id=$id: got ${r.getAs[Long]("vhash")}, want $want")
      // Band words are the fingerprint's 4 disjoint 16-bit chunks.
      val rebuilt = (r.getAs[Int]("b0").toLong & 0xffffL) |
        ((r.getAs[Int]("b1").toLong & 0xffffL) << 16) |
        ((r.getAs[Int]("b2").toLong & 0xffffL) << 32) |
        ((r.getAs[Int]("b3").toLong & 0xffffL) << 48)
      assert(rebuilt == want, s"id=$id band words disagree with fingerprint")
    }
  }

  test("everyN=2 samples frames 0,2,4,... and majority-folds ONLY those " +
    "(the p89 sampling path), fingerprint-grade plant, no natural " +
    "near-dups at fixture scale") {
    val got = VideoHash.fingerprints(Multimodal.plantGifsFp(ids(60)),
        everyN = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size == 60)
    (0L until 60L).foreach { id =>
      val n = 3 + (id % 4).toInt
      val w = 8 + (id % 5).toInt
      val h = 10 + (id % 3).toInt
      val shape = 3 + id % 31
      val want = refFingerprint(id, n, w, h, 2, (f, i) =>
        ((id * 11 + f * 17 + i.toLong * i * shape + i * 13L) % 256L).toInt)
      val r = got(id)
      assert(r.getAs[Boolean]("decoded") && r.getAs[Int]("n_frames") == n)
      assert(r.getAs[Int]("n_sampled") == (n + 1) / 2)
      assert(r.getAs[Long]("vhash") == want, s"id=$id fp mismatch")
    }
    // The shape-varying rule keeps distinct ids apart: no hamming<=3
    // pairs among 60 distinct clips (the phase-twin lesson applied from
    // day one — the reason p89/p90 plant THIS corpus).
    assert(VideoHash.nearDupPairs(
      VideoHash.fingerprints(Multimodal.plantGifsFp(ids(60)),
        everyN = 2)).count() == 0)
  }

  test("container re-encode round trip (identity pool through the real " +
    "reader+writer) is fingerprint-invariant; nearDupPairs finds every " +
    "copy at distance 0") {
    val base = Multimodal.plantGifsFp(ids(50))
    val copies = Multimodal.resizeVideoPooled(base, 1)
      .withColumn("media_id", col("media_id") + 1000L)
    val pairs = VideoHash.nearDupPairs(
        VideoHash.fingerprints(base.unionByName(copies), everyN = 2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    (0L until 50L).foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + 1000L && p._3 == 0),
        s"copy pair ($id, ${id + 1000L}) missing or not at distance 0")
    }
  }

  test("frame-sample-rate robustness, deterministic core: a clip whose " +
    "frames share one dHash keeps its fingerprint under ANY sampling " +
    "and under frame duplication") {
    // 5 frames with IDENTICAL pixels: every frame hash equal, so the
    // majority is that hash for every everyN — and a re-sampled variant
    // that duplicates frames (3 copies of the same frame) still matches.
    val px = (i: Int) => ((i * 37) % 251).toInt
    val five = gifOf(9, 11, Seq.fill(5)(px))
    val three = gifOf(9, 11, Seq.fill(3)(px))
    val sigs1 = VideoHash.fingerprints(mediaDf(Seq(1L -> five, 2L -> three)))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("vhash")).toMap
    val sigs2 = VideoHash.fingerprints(
        mediaDf(Seq(1L -> five)), everyN = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("vhash")).toMap
    assert(sigs1(1L) == sigs1(2L),
      "frame-count change over identical frames moved the fingerprint")
    assert(sigs1(1L) == sigs2(1L),
      "sampling rate change over identical frames moved the fingerprint")
    assert(sigs1(1L) == refDhash(9, 11, px),
      "single-hash majority must BE the frame hash")
  }

  test("majority fold: a minority frame cannot flip a solid majority's " +
    "bits (re-derived bit-by-bit against hand-planted frames)") {
    // 3 bright->dark frames + 1 dark->bright frame: the majority hash
    // must equal the 3-frame hash, bit for bit.
    val major = (i: Int) => if (i % 9 < 4) 40 else 200 // ascending in x
    val minor = (i: Int) => if (i % 9 < 4) 200 else 40 // descending
    val clip = gifOf(9, 11, Seq(major, major, major, minor))
    val got = VideoHash.fingerprints(mediaDf(Seq(1L -> clip))).collect()(0)
    assert(got.getAs[Int]("n_sampled") == 4)
    assert(got.getAs[Long]("vhash") == refDhash(9, 11, major),
      "a 3-of-4 majority must carry every bit")
  }

  test("corrupt, truncated, empty, and non-video payloads degrade to " +
    "decoded=false; nearDupPairs ignores them") {
    val good = gifOf(10, 10, Seq(i => i % 200, i => (i * 3) % 200))
    val junk = mediaDf(Seq(
      1L -> "not a gif".getBytes("UTF-8"),
      2L -> Array.emptyByteArray,
      3L -> good.take(30), // torn header
      4L -> good))
    val sigs = VideoHash.fingerprints(junk).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("decoded")).toMap
    assert(sigs == Map(1L -> false, 2L -> false, 3L -> false, 4L -> true))
    assert(VideoHash.nearDupPairs(VideoHash.fingerprints(junk)).count() == 0)
  }

  test("incremental refresh equals the from-scratch cross pairs") {
    val corpusMedia = Multimodal.plantGifsFp(ids(40))
    val corpus = VideoHash.fingerprints(corpusMedia, everyN = 2)
    val batch = VideoHash.fingerprints(
      Multimodal.resizeVideoPooled(
          corpusMedia.filter(col("media_id") % 4 === 0), 1)
        .withColumn("media_id", col("media_id") + 1000L), everyN = 2)
    val inc = VideoHash.incrementalNearDupPairs(corpus, batch,
        maxBucketSize = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = VideoHash.nearDupPairs(corpus.unionByName(batch),
        maxBucketSize = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(p => p._1 < 1000L && p._2 >= 1000L).toSet
    assert(inc == full, s"incremental ${inc.size} != from-scratch ${full.size}")
    assert(inc.nonEmpty, "fixture must mint at least one cross pair")
  }

  test("pair generation never goes cartesian: plan has no " +
    "CartesianProduct / BroadcastNestedLoopJoin") {
    val plan = VideoHash.nearDupPairs(
      VideoHash.fingerprints(Multimodal.plantGifsFp(ids(20))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("radius beyond the 4-band exact-recall bound is rejected; " +
    "everyN < 1 is rejected") {
    val sigs = VideoHash.fingerprints(Multimodal.plantGifsFp(ids(4)))
    intercept[IllegalArgumentException] {
      VideoHash.nearDupPairs(sigs, radius = 4)
    }
    intercept[IllegalArgumentException] {
      VideoHash.fingerprints(Multimodal.plantGifsFp(ids(4)), everyN = 0)
    }
  }

  test("bucket cap: no-op at fixture scale, drops degenerate cliques " +
    "when binding, bandBucketStats reports the histogram") {
    val base = Multimodal.plantGifsFp(ids(30))
    val copies = Multimodal.resizeVideoPooled(base, 1)
      .withColumn("media_id", col("media_id") + 1000L)
    val sigs = VideoHash.fingerprints(base.unionByName(copies))
    val uncapped = VideoHash.nearDupPairs(sigs, maxBucketSize = Long.MaxValue)
      .collect().toSet
    val capped = VideoHash.nearDupPairs(sigs, maxBucketSize = 1000L)
      .collect().toSet
    assert(uncapped == capped, "cap 1000 must be a no-op at fixture scale")
    assert(VideoHash.nearDupPairs(sigs, maxBucketSize = 1L).count() == 0)
    val stats = BandedHammingSpec.bucketStats(sigs, maxBucketSize = 1L).collect()
    assert(stats.nonEmpty)
    assert(stats.filter(_.getAs[Boolean]("dropped_by_cap"))
      .map(_.getAs[Long]("n_buckets")).sum > 0)
  }
}
