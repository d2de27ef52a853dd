package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ImageHash, Multimodal}

class ImageHashSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ids(n: Int) = {
    import spark.implicits._
    (0L until n.toLong).toDF("doc_id")
  }

  /** Reference dHash straight from the documented grid rule, no codec —
    * the pure-Scala twin the operator's ImageIO path must reproduce.
    */
  private def refDhash(w: Int, h: Int, px: (Int, Int) => Int): Long = {
    val g = Array.tabulate(8, 9) { (y, x) =>
      val y0 = y * h / 8; val y1 = math.max((y + 1) * h / 8, y0 + 1)
      val x0 = x * w / 9; val x1 = math.max((x + 1) * w / 9, x0 + 1)
      var s = 0L
      for (r <- y0 until y1; c <- x0 until x1) s += px(c, r)
      s / ((y1 - y0).toLong * (x1 - x0))
    }
    var hash = 0L
    for (y <- 0 until 8; x <- 0 until 8)
      if (g(y)(x) < g(y)(x + 1)) hash |= 1L << (y * 8 + x)
    hash
  }

  private def sigRow(id: Long, hash: Long): Row =
    Row(id, 9, 8, hash,
      ((hash >>> 0) & 0xffffL).toInt, ((hash >>> 16) & 0xffffL).toInt,
      ((hash >>> 32) & 0xffffL).toInt, ((hash >>> 48) & 0xffffL).toInt, true)

  private def sigsDf(rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), ImageHash.dhashSchema)

  private def grayPng(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, px(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def mediaDf(rows: Seq[(Long, Array[Byte])]) = {
    import spark.implicits._
    rows.toDF("media_id", "data")
  }

  test("dhashSignatures over planted PNGs equals the closed-form grid rule " +
    "(real ImageIO decode vs pure arithmetic)") {
    val got = ImageHash.dhashSignatures(Multimodal.plantPngs(ids(40)))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size == 40)
    (0L until 40L).foreach { id =>
      val w = 8 + (id % 9).toInt
      val h = 8 + (id % 7).toInt
      val want = refDhash(w, h, (x, y) => ((id * 7 + (y * w + x) * 13) % 256).toInt)
      val r = got(id)
      assert(r.getAs[Boolean]("decoded"))
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
      assert(r.getAs[Long]("dhash") == want,
        s"id=$id: got ${r.getAs[Long]("dhash")}, want $want")
      // Band words are the hash's 4 disjoint 16-bit chunks.
      val rebuilt = (r.getAs[Int]("b0").toLong & 0xffffL) |
        ((r.getAs[Int]("b1").toLong & 0xffffL) << 16) |
        ((r.getAs[Int]("b2").toLong & 0xffffL) << 32) |
        ((r.getAs[Int]("b3").toLong & 0xffffL) << 48)
      assert(rebuilt == want, s"id=$id band words disagree with hash")
    }
  }

  test("re-encode round trip (decode -> re-encode PNG) is dHash-invariant; " +
    "nearDupPairs finds every copy at distance 0") {
    val base = Multimodal.plantPngs(ids(50))
    val copies = Multimodal.resizePooled(base, 1)
      .withColumn("media_id", col("media_id") + 1000L)
    val pairs = ImageHash.nearDupPairs(
        ImageHash.dhashSignatures(base.unionByName(copies)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // Every (id, id+1000) pair present at hamming 0.
    (0L until 50L).foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + 1000L && p._3 == 0),
        s"copy pair for $id missing")
    }
  }

  test("banded bucketing has EXACT recall at radius 3: 200 seeded " +
    "<=3-bit perturbations are all found, beyond-radius pairs are not") {
    val rnd = new scala.util.Random(20260815L)
    val rows = Seq.newBuilder[Row]
    val expected = Seq.newBuilder[(Long, Long, Int)]
    var id = 0L
    (0 until 200).foreach { _ =>
      val h = rnd.nextLong()
      val nBits = rnd.nextInt(4) // 0..3
      val flips = rnd.shuffle((0 until 64).toList).take(nBits)
      val h2 = flips.foldLeft(h)((acc, b) => acc ^ (1L << b))
      rows += sigRow(id, h) += sigRow(id + 1, h2)
      if (java.lang.Long.bitCount(h ^ h2) <= 3)
        expected += ((id, id + 1, java.lang.Long.bitCount(h ^ h2)))
      id += 2
    }
    val got = ImageHash.nearDupPairs(sigsDf(rows.result()))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    expected.result().foreach { p =>
      assert(got.contains(p), s"planted pair $p missed by banding")
    }
    // Distance-4+ control: flip 4 bits spread across all 4 bands -> no
    // shared band, must NOT be emitted (and would fail the verify anyway).
    val far = sigRow(9000L, 0L)
    val far2 = sigRow(9001L, (1L << 0) | (1L << 16) | (1L << 32) | (1L << 48))
    val got2 = ImageHash.nearDupPairs(sigsDf(Seq(far, far2))).collect()
    assert(got2.isEmpty)
  }

  test("resize robustness: a smooth ramp image box-downscaled 2x keeps a " +
    "near-identical dHash; unrelated texture stays far") {
    // Rise-then-fall ramp, 64x64: monotone region structure survives
    // 2x box pooling, so the gradient signs (the hash bits) barely move.
    val ramp = (x: Int, y: Int) =>
      if (x < 32) x * 3 + y else (96 + y + (31 - (x - 32)) * 3).min(255)
    val base = mediaDf(Seq(1L -> grayPng(64, 64, ramp)))
    val down = Multimodal.resizePooled(
      base.withColumn("modality", lit("image"))
        .withColumn("meta", struct(lit(64).as("width"), lit(64).as("height"),
          lit(null).cast("int").as("sample_rate"), lit("image/png").as("format"))),
      2).select(col("media_id"), col("data"))
    val hBase = ImageHash.dhashSignatures(base).collect()(0).getAs[Long]("dhash")
    val hDown = ImageHash.dhashSignatures(down).collect()(0).getAs[Long]("dhash")
    val d = java.lang.Long.bitCount(hBase ^ hDown)
    assert(d <= 3, s"resized ramp drifted $d bits")
    // Unrelated high-frequency texture: far from the ramp.
    val tex = mediaDf(Seq(2L -> grayPng(64, 64, (x, y) => (x * 97 + y * 51) % 256)))
    val hTex = ImageHash.dhashSignatures(tex).collect()(0).getAs[Long]("dhash")
    assert(java.lang.Long.bitCount(hBase ^ hTex) > 3)
  }

  test("undecodable payloads degrade to decoded=false, never throw; " +
    "nearDupPairs ignores them") {
    import spark.implicits._
    val junk = Seq(
      (1L, Array[Byte](1, 2, 3)),
      (2L, Array.emptyByteArray),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("media_id", "data")
    val sigs = ImageHash.dhashSignatures(junk).collect()
    assert(sigs.length == 3)
    assert(sigs.forall(!_.getAs[Boolean]("decoded")))
    assert(ImageHash.nearDupPairs(ImageHash.dhashSignatures(junk)).count() == 0)
  }

  test("pair plan is banded, never all-pairs: no cartesian/NLJ, payloads " +
    "absent from the pair stage") {
    val plan = ImageHash.nearDupPairs(
        ImageHash.dhashSignatures(Multimodal.plantPngs(ids(10))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"all-pairs join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"NLJ:\n$plan")
  }

  test("bandBucketStats accounts for every (band, word) row; a generous " +
    "cap is a no-op at small corpus size") {
    val sigs = ImageHash.dhashSignatures(Multimodal.plantPngs(ids(60)))
    val stats = BandedHammingSpec.bucketStats(sigs, maxBucketSize = 1000).collect()
    val total = stats.map(r =>
      r.getAs[Long]("bucket_size") * r.getAs[Long]("n_buckets")).sum
    assert(total == 60L * 4, s"histogram covers $total of ${60 * 4} rows")
    assert(stats.forall(!_.getAs[Boolean]("dropped_by_cap")))
    def pairs(cap: Long) = ImageHash.nearDupPairs(sigs, maxBucketSize = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs(1000L) == pairs(Long.MaxValue),
      "generous cap must not change the pair set")
  }

  test("radius above the 4-band exact-recall bound is rejected") {
    intercept[IllegalArgumentException] {
      ImageHash.nearDupPairs(sigsDf(Seq(sigRow(1L, 0L))), radius = 4)
    }
  }

  test("incremental refresh equals the from-scratch cross pairs: every " +
    "batch copy found at distance 0, corpus x corpus never emitted") {
    val corpusMedia = Multimodal.plantPngs(ids(50))
    val copies = Multimodal.resizePooled(
        corpusMedia.where(col("media_id") % 5 === 0), 1)
      .withColumn("media_id", col("media_id") + 1000L)
    val fresh = Multimodal.plantPngs(
      ids(50).select((col("doc_id") + 2000L).as("doc_id"))
        .where(col("doc_id") % 7 === 3))
    val corpus = ImageHash.dhashSignatures(corpusMedia)
    val batch = ImageHash.dhashSignatures(copies.unionByName(fresh))
    val inc = ImageHash.incrementalNearDupPairs(corpus, batch,
        maxBucketSize = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // From-scratch truth: full pairs on the union, restricted to pairs
    // with exactly one side in the batch id space.
    val full = ImageHash.nearDupPairs(
        ImageHash.dhashSignatures(corpusMedia.unionByName(copies)
          .unionByName(fresh)), maxBucketSize = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter { case (a, b, _) => (a < 1000L) != (b < 1000L) }
      .map { case (a, b, h) => if (a < 1000L) (a, b, h) else (b, a, h) }
      .toSet
    assert(inc == full, s"incremental ${inc.size} != from-scratch ${full.size}")
    // Every planted copy recovered at distance 0.
    (0L until 50L by 5).foreach { id =>
      assert(inc.contains((id, id + 1000L, 0)), s"copy pair $id missing")
    }
    // No corpus-only or batch-only pairs leak through.
    assert(inc.forall { case (c, b, _) => c < 1000L && b >= 1000L })
  }

  test("fingerprint-grade plant (plantPngsFp) equals the closed-form grid " +
    "rule and mints (nearly) no natural near-dups at fixture scale") {
    val got = ImageHash.dhashSignatures(Multimodal.plantPngsFp(ids(60)))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size == 60)
    (0L until 60L).foreach { id =>
      val w = 8 + (id % 9).toInt
      val h = 8 + (id % 7).toInt
      val want = refDhash(w, h, (x, y) => {
        val i = (y * w + x).toLong
        ((id * 7 + i * i * (3 + id % 31) + i * 13) % 256).toInt
      })
      assert(got(id).getAs[Long]("dhash") == want, s"id=$id fp mismatch")
    }
    // The shape-varying rule keeps distinct ids apart (the legacy ramp
    // is one common waveform phase-shifted — ~30k natural pairs at
    // sf0.1; the reason p75/p81 plant THIS corpus).
    assert(ImageHash.nearDupPairs(
      ImageHash.dhashSignatures(Multimodal.plantPngsFp(ids(60)))).count() == 0)
  }

  test("incremental refresh never goes cartesian") {
    val corpus = ImageHash.dhashSignatures(Multimodal.plantPngs(ids(20)))
    val batch = ImageHash.dhashSignatures(
      Multimodal.plantPngs(ids(20))
        .withColumn("media_id", col("media_id") + 1000L))
    val plan = ImageHash.incrementalNearDupPairs(corpus, batch)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
