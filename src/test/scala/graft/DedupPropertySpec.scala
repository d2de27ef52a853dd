package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.functions.HashExpressions
import graft.functions.TextFunctions.tokens
import graft.operators.Dedup

/** Semantic property tests for the sketch-hash dedup operators — the
  * verification the DuckDB oracle can't express (probabilistic recall,
  * planted-duplicate recovery). Pattern after the reference's property-based
  * checks (`/root/reference/src/test_utils/property_based.rs:15-89`).
  */
class DedupPropertySpec extends AnyFunSuite {
  import SparkTestSession._

  /** Synthetic corpus with a DISTINCT vocabulary (no overlap with the 31-word
    * testdata vocab): base docs of 40 random-ish tokens, plus planted
    * near-dups made by swapping a controlled number of tokens.
    */
  private lazy val planted = {
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango")
    val rnd = new scala.util.Random(7)
    def doc(): Seq[String] = Seq.fill(40)(vocab(rnd.nextInt(vocab.size)))
    val bases = (0 until 50).map(i => (i.toLong, doc()))
    // Near-dups: ids 1000+i mutate one token near the end of base i (i < 10)
    // — shingle overlap stays high (only shingleLen windows change).
    val dups = (0 until 10).map { i =>
      val b = bases(i)._2.toVector
      (1000L + i, b.updated(35, "zulu").toSeq)
    }
    import spark.implicits._
    (bases ++ dups).map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  /** LSH bucket-size histogram for the cap of [[Dedup.minhashCandidates]],
    * over the same band hashes: one row per bucket size with the number of
    * buckets of that size and whether the `maxBucketSize` cap drops them.
    */
  private def lshBucketStats(df: DataFrame, idCol: String, textCol: String,
                             shingleLen: Int = 5, k: Int = 64, r: Int = 2,
                             maxBucketSize: Int = 1000): DataFrame =
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= shingleLen)
      .select(col("id"),
        posexplode(HashExpressions.minhashBands(col("toks"), shingleLen, k, r))
          .as(Seq("band", "bh")))
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .withColumn("dropped_by_cap", col("bucket_size") > maxBucketSize)

  test("nearDupPairs recovers every planted near-dup and nothing random") {
    val pairs = Dedup.nearDupPairs(planted, "doc_id", "text",
      shingleLen = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 10).map(i => (i.toLong, 1000L + i)).toSet
    assert(expected.subsetOf(pairs),
      s"missed planted pairs: ${expected -- pairs}")
    // Random 40-token docs over a 20-word vocab share few 5-gram shingles:
    // no pair of distinct bases should exceed the 0.5 jaccard threshold.
    val falsePairs = pairs -- expected
    assert(falsePairs.isEmpty, s"unexpected pairs: $falsePairs")
  }

  test("dupClusters merges a transitive chain into one component") {
    import spark.implicits._
    // a~b and b~c are near-dups but a~c may fall under threshold —
    // connected components must still place all three in one cluster.
    val base = (0 until 40).map(i => s"w$i")
    val a = base
    val b = base.updated(5, "zz")               // near-dup of a
    val c = base.updated(5, "zz").updated(35, "yy") // near-dup of b
    val far = (100 until 140).map(i => s"v$i")  // unrelated
    val df = Seq(1L -> a, 2L -> b, 3L -> c, 4L -> far)
      .map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
    val clusters = Dedup.dupClusters(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L,
      s"chain not merged: $clusters")
    assert(clusters(4L) == 4L, "singleton got absorbed")
  }

  test("exact dedup keeps exactly one survivor per duplicated text") {
    import spark.implicits._
    val df = Seq(
      (1L, "aa bb cc"), (2L, "aa  bb cc"), (3L, "AA bb cc"), // same normalized
      (4L, "dd ee ff")).toDF("doc_id", "text")
    val survivors = Dedup.exact(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 4L))
    val groups = Dedup.exactGroups(df, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(groups == Map(1L -> 3L, 4L -> 1L))
  }

  test("minhash candidate recall >= 0.9 vs exact jaccard on a corpus slice") {
    val docs = Tables.load(spark, sf01, "documents").filter(col("doc_id") < 500)
    // Ground truth: all pairs with exact 5-shingle jaccard >= 0.5.
    val truth = Dedup.nearDupPairs(docs, "doc_id", "text",
      shingleLen = 5, threshold = 0.5, k = 256, r = 1, maxBucketSize = 100000)
    // k=256,r=1 => every doc pair sharing ANY minhash collides => candidate
    // set ⊇ any pair with a shared shingle => exact-verified output IS truth.
    val truthSet = truth.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truthSet.nonEmpty, "slice has no near-dup pairs; test is vacuous")
    val recall = truthSet.count(cand.contains).toDouble / truthSet.size
    assert(recall >= 0.9, s"candidate recall $recall < 0.9 " +
      s"(${truthSet.size} truth pairs, ${cand.size} candidates)")
  }

  test("bucket cap bounds pair generation on a degenerate corpus and the " +
    "drop is visible in lshBucketStats") {
    import spark.implicits._
    // 300 copies of one text: every band bucket holds all 300 docs. With
    // cap=100 the buckets are dropped — candidates must be EMPTY (bounded
    // work) instead of 300² pairs, and the stats must show the drop.
    val text = (0 until 30).map(i => s"boiler$i").mkString(" ")
    val df = (0L until 300L).map(id => (id, text)).toDF("doc_id", "text")
    val cand = Dedup.minhashCandidates(df, "doc_id", "text",
      maxBucketSize = 100)
    assert(cand.count() == 0, "cap failed to bound degenerate buckets")
    val stats = lshBucketStats(df, "doc_id", "text", maxBucketSize = 100)
      .collect()
    val dropped = stats.filter(_.getBoolean(2))
    assert(dropped.nonEmpty, "dropped buckets not reported")
    assert(dropped.map(r => r.getLong(0) * r.getLong(1)).sum == 300L * 32,
      "every (doc, band) row should fall in a dropped bucket (32 bands at k=64, r=2)")
  }

  test("lshBucketStats reports caps; no degenerate buckets on real corpus") {
    val docs = Tables.load(spark, sf01, "documents")
    val stats = lshBucketStats(docs, "doc_id", "text", maxBucketSize = 100)
      .collect()
    val dropped = stats.filter(_.getBoolean(2)).map(_.getLong(1)).sum
    assert(dropped == 0, s"$dropped buckets would be dropped by cap=100")
  }

  test("jaccardPairs refuses unbounded input") {
    val docs = Tables.load(spark, sf01, "documents")
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardPairs(docs, "doc_id", "text", 0.5, maxRows = 100)
    }
    assert(e.getMessage.contains("maxRows"))
  }

  test("contaminationPairs: asymmetric containment finds embedded benchmark items") {
    import spark.implicits._
    val bench = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, s"lots of unrelated padding words here $bench and even more padding after"),
      (2L, "nothing shared with the benchmark document at all in any way shape"),
      (3L, "alpha beta gamma delta epsilon completely diverges after five tokens")
    ).toDF("doc_id", "text")
    val benchDf = Seq((100L, bench)).toDF("doc_id", "text")
    val got = Dedup.contaminationPairs(corpus, benchDf, "doc_id", "text",
        shingleLen = 5, minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // Doc 1 embeds the whole benchmark: containment 1.0 even though the
    // benchmark is a small fraction of doc 1 (jaccard would be far below
    // threshold — the asymmetry is the point).
    assert(got((1L, 100L)) == 1.0, s"got $got")
    assert(!got.keySet.exists(_._1 == 2L), "unrelated doc flagged")
    // Doc 3 shares only 1 of the benchmark's 4 shingles: 0.25 < 0.5.
    assert(!got.keySet.exists(_._1 == 3L), "sub-threshold doc flagged")
  }

  test("simhash: identical normalized text gives identical signature; " +
    "near-dups give low hamming") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "THE  quick Brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words about spark catalyst expressions")
    ).toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L), "case/space-normalized dup changed simhash")
    val ham = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    assert(ham > 10, s"unrelated docs hamming $ham suspiciously low")
  }

  test("star contraction: planted 50-node chain converges where plain " +
    "propagation would hit the iteration cap; mixed components + singletons") {
    import spark.implicits._
    // Path graph 0-1-2-...-49 (diameter 49), a separate triangle
    // {100,101,102}, and singleton 200.
    val chain = (0L until 49L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val pairs = (chain ++ tri).toDF("id_a", "id_b")
    val ids = ((0L to 49L) ++ Seq(100L, 101L, 102L, 200L)).toDF("id")
    // Every round distributed: the star rounds alone must contract the chain.
    val star = Dedup.connectedComponents(ids, pairs, localEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 49L).foreach(i => assert(star(i) == 0L, s"chain node $i -> ${star(i)}"))
    Seq(100L, 101L, 102L).foreach(i => assert(star(i) == 100L))
    assert(star(200L) == 200L, "singleton must label itself")
    // At the default the driver finisher labels the same graph.
    val auto = Dedup.connectedComponents(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(auto == star, "the driver finisher must equal the distributed star rounds")
  }

  test("incremental near-dedup: batch dups of corpus docs are found and " +
    "refused admission; novel batch docs admitted; no corpus-side pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Corpus = the 50 bases; batch = the 10 planted near-dups (of bases
    // 0-9) plus 5 genuinely novel docs.
    val corpus = planted.filter(col("doc_id") < 1000)
    val batch = planted.filter(col("doc_id") >= 1000)
    val novel = {
      val rnd = new scala.util.Random(99)
      val vocab = Vector("zulu", "yankee", "xray", "whiskey", "victor")
      (0 until 5).map(i =>
        (2000L + i, Seq.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
        .toDF("doc_id", "text")
    }
    val fullBatch = batch.unionByName(novel)
    val pairs = Dedup.incrementalNearDupPairs(corpus, fullBatch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    (0 until 10).foreach { i =>
      assert(pairs.contains((i.toLong, 1000L + i)),
        s"planted cross-side dup ($i, ${1000 + i}) not found")
    }
    assert(pairs.forall { case (c, b) => c < 1000L && b >= 1000L },
      s"non-cross-side pair leaked: ${pairs.find { case (c, b) => c >= 1000L || b < 1000L }}")
    val admitted = Dedup.incrementalAdmit(corpus, fullBatch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((2000L until 2005L).forall(admitted.contains),
      s"novel docs refused: $admitted")
    val dupIds = pairs.map(_._2).toSet
    assert(dupIds.forall(!admitted.contains(_)),
      "a batch doc with a corpus near-dup was admitted")
  }

  /** Serial ground truth: union-find canonicalized to min-of-component. */
  private def unionFindWant(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map((0L until n.toLong).map(k => k -> k): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val repToMin = (0L until n.toLong).groupBy(find).map {
      case (rep, members) => rep -> members.min
    }
    (0L until n.toLong).map(k => k -> repToMin(find(k))).toMap
  }

  /** Parity across all three execution modes of the CC engine:
    * localEdges 0 = pure distributed star rounds, huge localEdges =
    * immediate driver union-find, mid localEdges on a dense graph =
    * distributed rounds that cut over to the driver finisher once
    * contraction shrinks the edge set under the bound.
    */
  test("star contraction equals union-find on random graphs (all hybrid modes)") {
    for (
      (localEdges, n, avgDeg) <- Seq((0L, 120, 0.8), (1000000L, 120, 0.8),
        (100L, 80, 3.75));
      seed <- Seq(11, 23, 47)
    ) {
      import spark.implicits._
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill((n * avgDeg).toInt)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = Dedup.connectedComponents(
          (0L until n.toLong).toDF("id"),
          edges.toDF("id_a", "id_b"), localEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFindWant(n, edges)
      assert(got == want,
        s"seed=$seed localEdges=$localEdges: labels diverge from union-find")
    }
  }

  test("connected components with zero edges labels every node a singleton " +
    "(both algorithms, with and without the driver finisher)") {
    import spark.implicits._
    val ids = (0L until 5L).toDF("id")
    val noEdges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val want = (0L until 5L).map(i => i -> i).toMap
    for (localEdges <- Seq(0L, Dedup.LocalEdges)) {
      val got = Dedup.connectedComponents(ids, noEdges, localEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"localEdges=$localEdges: $got")
    }
  }

  test("leakageFreeSplits keeps planted cross-split duplicates in one split " +
    "where the id-hash split provably leaks") {
    import spark.implicits._
    import graft.operators.Sampling
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def h(id: Long) = ((id % 4294967296L) * 1103515245L) % 4294967296L
    val trainCut = (0.8 * 4294967296.0).toLong
    val testCut = (0.9 * 4294967296.0).toLong
    // Two ids the ID-hash provably sends to different splits, given the
    // same text (an exact duplicate, jaccard 1.0).
    val trainId = (1L to 1000L).find(i => h(i) < trainCut).get
    val testId = (1L to 1000L).find(i => h(i) >= testCut).get
    val dupText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val filler = (2000L to 2049L).map(i =>
      (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h"))
    val docs = (Seq((trainId, dupText), (testId, dupText)) ++ filler)
      .toDF("doc_id", "text")
    // The naive id-hash split separates the duplicate pair (leakage).
    val idSplits = Sampling.assignSplits(docs, "doc_id", splits)
      .filter(col("doc_id").isin(trainId, testId))
      .select("split").distinct().count()
    assert(idSplits == 2, "planted pair must straddle splits under id hashing")
    // The cluster-keyed split keeps them together — and no cluster anywhere
    // spans two splits.
    val out = Dedup.leakageFreeSplits(docs, "doc_id", "text", splits)
    val pair = out.filter(col("doc_id").isin(trainId, testId))
      .select("cluster_id", "split").distinct().collect()
    assert(pair.length == 1,
      s"near-dup pair split across ${pair.mkString(",")}")
    val spanning = out.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("k")).filter(col("k") > 1).count()
    assert(spanning == 0, "a cluster spans more than one split")
  }

  /** Every node is labelled with the least id of its component (the
    * min label), here on sparse random graphs through the public
    * entry point, all distributed and all on the driver finisher.
    */
  test("min-label propagation equals union-find with and without the driver finisher") {
    import spark.implicits._
    for (localEdges <- Seq(0L, 1000000L); seed <- Seq(7, 31)) {
      val rnd = new scala.util.Random(seed)
      val n = 100
      val edges = Seq.fill(80)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = Dedup.connectedComponents(
          (0L until n.toLong).toDF("id"),
          edges.toDF("id_a", "id_b"), localEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFindWant(n, edges)
      assert(got == want,
        s"seed=$seed localEdges=$localEdges: labels diverge from union-find")
    }
  }

  test("dupSpanCoverage: planted shared span is flagged in both docs only") {
    import spark.implicits._
    // 3-token windows: doc1 {x y z, y z p, z p q}, doc2 {x y z, y z w},
    // doc3 {u v w, v w t}. Only "x y z" is cross-doc.
    val df = Seq(
      (1L, "x y z p q"),
      (2L, "x y z w"),
      (3L, "u v w t")).toDF("doc_id", "text")
    val out = Dedup.dupSpanCoverage(df, "doc_id", "text", windowLen = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 1L, 0.333333), (2L, 2L, 1L, 0.5), (3L, 2L, 0L, 0.0)),
      s"got ${out.toSeq}")
  }

  test("dupSpanCoverage: within-doc repeats don't count, set semantics hold") {
    import spark.implicits._
    // doc1 repeats its own window twice but shares nothing cross-doc;
    // distinct-window semantics: "a b c" counts once, nothing duplicated.
    val df = Seq(
      (1L, "a b c a b c"),   // windows as a SET: {a b c, b c a, c a b}
      (2L, "q r s t")).toDF("doc_id", "text")
    val out = Dedup.dupSpanCoverage(df, "doc_id", "text", windowLen = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 3L, 0L), (2L, 2L, 0L)), s"got ${out.toSeq}")
  }

  test("cutDuplicateSpans removes the span everywhere but its first doc") {
    import spark.implicits._
    // Shared 3-token span "x y z" sits mid-doc in 1 and 2; doc 1 (min id)
    // keeps it, doc 2 loses exactly those 3 tokens; doc 3 untouched.
    val df = Seq(
      (1L, "a b x y z c"),
      (2L, "d x y z e f"),
      (3L, "g h i j k l")).toDF("doc_id", "text")
    val out = Dedup.cutDuplicateSpans(df, "doc_id", "text", windowLen = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 6L, 0L, "a b x y z c"),
      (2L, 6L, 3L, "d e f"),
      (3L, 6L, 0L, "g h i j k l")), s"got ${out.toSeq}")
  }

  test("cutDuplicateSpans: overlapping cut windows union their coverage") {
    import spark.implicits._
    // Doc 2 embeds doc 1's whole 4-token text; its two overlapping 3-token
    // windows (t1 t2 t3, t2 t3 t4) both duplicate -> 4 tokens cut, once.
    val df = Seq(
      (1L, "t1 t2 t3 t4"),
      (2L, "pre t1 t2 t3 t4 post")).toDF("doc_id", "text")
    val out = Dedup.cutDuplicateSpans(df, "doc_id", "text", windowLen = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, "t1 t2 t3 t4"),
      (2L, 4L, "pre post")), s"got ${out.toSeq}")
  }

  test("cutDuplicateSpans: a fully-duplicated doc becomes the empty string") {
    import spark.implicits._
    val df = Seq(
      (1L, "m n o p"),
      (2L, "m n o p")).toDF("doc_id", "text")
    val out = Dedup.cutDuplicateSpans(df, "doc_id", "text", windowLen = 4)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq((1L, 0L, "m n o p"), (2L, 4L, "")),
      s"got ${out.toSeq}")
  }

  test("contaminationPairsBloom: empty benchmark yields empty, not an NPE") {
    // Found by the r10 sliced-sf0.1 run: stat.bloomFilter over zero rows
    // serializes a null buffer; the prune must short-circuit instead.
    import spark.implicits._
    val corpus = (0 until 10).map(i =>
      (i.toLong, (0 until 20).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val emptyBench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.contaminationPairsBloom(corpus, emptyBench, "doc_id", "text",
      shingleLen = 5, minContainment = 0.3).count() == 0)
  }

  test("contaminationPairsBloom: identical results, bloom probe in the plan") {
    import spark.implicits._
    // Benchmark = 3 docs; corpus = 2 contaminated copies + 40 unrelated.
    val bench = (0 until 3).map(i =>
      (900L + i, (0 until 20).map(j => s"bm${i}_$j").mkString(" ")))
    val contaminated = Seq(
      (1L, (0 until 20).map(j => s"bm0_$j").mkString(" ") + " extra tail"),
      (2L, (0 until 12).map(j => s"bm1_$j").mkString(" ")))
    val clean = (100 until 140).map(i =>
      (i.toLong, (0 until 20).map(j => s"cl${i}_$j").mkString(" ")))
    val corpus = (contaminated ++ clean).toDF("doc_id", "text")
    val benchDf = bench.toDF("doc_id", "text")
    val exact = Dedup.contaminationPairs(corpus, benchDf, "doc_id", "text",
      shingleLen = 5, minContainment = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bloomed = Dedup.contaminationPairsBloom(corpus, benchDf, "doc_id", "text",
      shingleLen = 5, minContainment = 0.3)
    val got = bloomed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == exact && got.map(t => (t._1, t._2)) == Set((1L, 900L), (2L, 901L)),
      s"bloom path must equal the exact join: $got vs $exact")
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_contains"),
      s"corpus side must carry the bloom probe filter:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"))
  }

  test("contaminationPairsBloom size-bound fallback: no bloom probe, same results") {
    import spark.implicits._
    val bench = Seq((900L, (0 until 20).map(j => s"fb$j").mkString(" ")))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, (0 until 20).map(j => s"fb$j").mkString(" ")),
      (2L, (50 until 80).map(j => s"zz$j").mkString(" "))).toDF("doc_id", "text")
    // maxFilterBytes=0 forces the honest fallback: identical results, no
    // probe in the plan (never a broken oversized broadcast).
    val fb = Dedup.contaminationPairsBloom(corpus, bench, "doc_id", "text",
      shingleLen = 5, minContainment = 0.3, maxFilterBytes = 0L)
    val exact = Dedup.contaminationPairs(corpus, bench, "doc_id", "text",
      shingleLen = 5, minContainment = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fb.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == exact)
    assert(!fb.queryExecution.executedPlan.toString.contains("bloom_contains"),
      "fallback must not carry a bloom probe")
  }

  test("BloomContainsLong: no false negatives, prunes non-members, codegen-able") {
    import spark.implicits._
    import graft.functions.HashExpressions
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    (0L until 1000L).foreach(i => bloom.putLong(i * 7919L))
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val bytes = bos.toByteArray
    val members = (0L until 1000L).map(_ * 7919L).toDF("k")
      .filter(HashExpressions.bloomContainsLong(col("k"), bytes)).count()
    assert(members == 1000L, "a bloom filter must never reject a member")
    val nonMembers = (1L to 10000L).map(_ * 7919L + 3L).toDF("k")
      .filter(HashExpressions.bloomContainsLong(col("k"), bytes)).count()
    assert(nonMembers < 500L, // fpp 0.01 with 10k probes: ~100 expected
      s"bloom must prune the vast majority of non-members, kept $nonMembers")
    // The probe participates in whole-stage codegen (not a fallback).
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[HashExpressions.BloomContainsLong]))
  }

  test("corpusDiff labels added/removed/changed/unchanged correctly") {
    import spark.implicits._
    val oldSnap = Seq((1L, "alpha text"), (2L, "bravo text"),
      (3L, "charlie text")).toDF("doc_id", "text")
    val newSnap = Seq((2L, "bravo text"), (3L, "charlie EDITED"),
      (4L, "delta text"),
      // Whitespace/case-only edits are NOT changes: the fingerprint
      // normalizes, so reformatting a page doesn't trigger reprocessing.
      (5L, "echo  Text"), (6L, "foxtrot")).toDF("doc_id", "text")
    val withEcho = oldSnap.union(Seq((5L, "echo text"), (6L, "foxtrot old"))
      .toDF("doc_id", "text"))
    val out = Dedup.corpusDiff(withEcho, newSnap, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "added", 5L -> "unchanged", 6L -> "changed"), s"got $out")
    // Presence comes from row membership, NOT fingerprint nullness: a
    // null-text doc present only in the OLD snapshot is 'removed' (the
    // fp-based formulation would call it 'added' and trigger re-ingest of
    // a deleted doc).
    val nullOld = Seq((7L, null.asInstanceOf[String]), (8L, "keep"))
      .toDF("doc_id", "text")
    val nullNew = Seq((8L, "keep")).toDF("doc_id", "text")
    val out2 = Dedup.corpusDiff(nullOld, nullNew, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2 == Map(7L -> "removed", 8L -> "unchanged"), s"got $out2")
  }

  test("bestOfCluster keeps the highest-quality member, not the lowest id") {
    import spark.implicits._
    import graft.functions.TextFunctions
    // Doc 11 = doc 10 plus four appended stopwords: 5-shingle jaccard
    // 16/20 = 0.8 (near-dup), but the extra length + stopwords give it the
    // higher quality score — so the canonical pick must be 11, which the
    // lowest-id rule (minhashDedup) would discard.
    val base = (0 until 20).map(i => s"word$i").mkString(" ")
    val df = Seq(
      (10L, base),
      (11L, base + " the and of to"),
      (50L, (100 until 140).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.bestOfCluster(df, "doc_id", "text",
        TextFunctions.qualityScore(col("text")))
      .orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.toSeq == Seq((10L, 11L, 2L), (50L, 50L, 1L)),
      s"got ${out.toSeq}")
  }

  test("dupSpanCoverage plan: hash-keyed equi-join, no cartesian, no UDF") {
    import spark.implicits._
    val df = (1L to 60L).map(i =>
      (i, (0 until 12).map(j => s"w${(i * 7 + j) % 23}").mkString(" ")))
      .toDF("doc_id", "text")
    val plan = Dedup.dupSpanCoverage(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"span join must be an equi-join on the window hash:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"))
  }

  test("propagateDeletes: removing a bridge SPLITS its cluster, removing " +
    "a cluster minimum relabels survivors, untouched clusters pass " +
    "through — equal to from-scratch CC over the survivors") {
    import spark.implicits._
    // Settled graph: chain 1-2-3 (cluster 1), pair 10-11 (cluster 10,
    // untouched), pair 20-21 (cluster 20, minimum deleted).
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val labels = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L).toDF("id", "cluster_id")
    val deletes = Seq(2L, 20L).toDF("id")
    val got = Dedup.propagateDeletes(labels, pairs, deletes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // deleting bridge 2 splits {1,3}; deleting minimum 20 leaves 21 as
    // its own cluster; {10,11} untouched.
    val expected = Seq((1L, 1L), (3L, 3L), (10L, 10L), (11L, 10L),
      (21L, 21L))
    assert(got == expected, s"got $got")
    // From-scratch CC over the surviving subgraph must agree.
    val survIds = Seq(1L, 3L, 10L, 11L, 21L).toDF("id")
    val survPairs = Seq((10L, 11L)).toDF("id_a", "id_b")
    val scratch = Dedup.connectedComponents(survIds, survPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == scratch, s"propagate=$got scratch=$scratch")
  }
}
