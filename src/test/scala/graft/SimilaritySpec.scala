package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.operators.Similarity

/** ANN operator properties: brute-force is the exact baseline; the LSH
  * bucket path must place every vector in exactly one in-range bucket, be
  * deterministic, and reach useful top-k recall vs the exact answer.
  */
class SimilaritySpec extends AnyFunSuite {
  import SparkTestSession._

  private def corpus = Tables.load(spark, sf01, "embeddings")
  private def queries = corpus.filter(col("vec_id") < 10)
    .select(col("vec_id").as("query_id"), col("embedding"))

  /** [[Similarity.axisBucketed]] population histogram: one row per bucket
    * size with the bucket count and whether `maxBucketSize` drops it (the
    * cap of [[Similarity.axisKnnGraph]]).
    */
  private def axisBucketStats(corpus: DataFrame, nBits: Int,
                              maxBucketSize: Int): DataFrame =
    Similarity.axisBucketed(corpus, nBits)
      .groupBy(col("bucket")).agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .withColumn("dropped_by_cap", col("bucket_size") > maxBucketSize)

  test("bruteForceTopK: self-similarity ranks first with cos 1.0") {
    val top1 = Similarity.bruteForceTopK(corpus, queries, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(top1.size == 10)
    top1.foreach { case (q, v, cos) =>
      assert(q == v, s"query $q top-1 is $v, not itself")
      assert(cos == 1.0, s"self-cos $cos != 1.0")
    }
  }

  test("LSH buckets: deterministic, in-range, exactly one per vector") {
    val b1 = Similarity.bucketed(corpus, nBits = 8)
      .select("vec_id", "bucket").collect().map(r => (r.getLong(0), r.getInt(1)))
    val b2 = Similarity.bucketed(corpus, nBits = 8)
      .select("vec_id", "bucket").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(b1.toMap == b2.toMap, "bucketing not deterministic")
    assert(b1.length == corpus.count(), "vector count changed through bucketing")
    assert(b1.map(_._1).distinct.length == b1.length, "a vector bucketed twice")
    b1.foreach { case (id, b) =>
      assert(b >= 0 && b < 256, s"vec $id bucket $b out of [0,256)")
    }
  }

  test("axisKnnGraph: k rows per vector, no self-edges, cos exact, good recall") {
    val k = 5
    val g = Similarity.axisKnnGraph(corpus, k = k, nBits = 6, probeHamming = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byVec = g.groupBy(_._1)
    assert(byVec.size == corpus.count(), "every vector must have graph rows")
    byVec.values.foreach { rows =>
      assert(rows.length <= k)
      assert(rows.map(_._4).sorted.sameElements(1 to rows.length), "ranks must be 1..n")
    }
    assert(g.forall(e => e._1 != e._2), "self-edges must be excluded")
    // Exact-knn baseline over the full corpus (500 vecs — quadratic is fine
    // in a test): candidate restriction changes WHICH neighbors are found,
    // never their cos; and recall@5 must be useful (same-bucket locality).
    val q = corpus.select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(corpus, q, k + 1)
      .filter(col("query_id") =!= col("vec_id")).filter(col("rk") <= k + 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    g.foreach { case (a, b, cos, _) =>
      exact.get((a, b)).foreach(e => assert(e == cos, s"cos mismatch ($a,$b)"))
    }
    val hits = g.count(e => exact.contains((e._1, e._2)))
    val recall = hits.toDouble / g.length
    // The meaningful LSH property at this corpus size is the LOCALITY GAIN:
    // random candidate selection would achieve recall ≈ the scanned pair
    // fraction; sign-LSH buckets must do substantially better per pair
    // scanned. (Absolute recall is a parameter choice — nBits/probeHamming
    // trade scan fraction for recall; at production scale nBits grows with
    // log N and the hyperplane variant adds seeded directions.)
    val n = corpus.count()
    val cb = Similarity.axisBucketed(corpus, 6)
    val masks = Seq(0) ++ (0 until 6).map(1 << _)
    val scannedPairs = cb
      .select(col("vec_id").as("id_a"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
      .join(cb.select(col("bucket"), col("vec_id").as("id_b")), Seq("bucket"))
      .filter(col("id_a") =!= col("id_b")).count()
    val scanFraction = scannedPairs.toDouble / (n * (n - 1))
    assert(recall >= 1.5 * scanFraction,
      f"knn-graph recall@$k $recall%.2f < 1.5x the scanned fraction $scanFraction%.2f")
    assert(recall >= 0.15, f"knn-graph recall@$k $recall%.2f below floor 0.15")
  }

  test("axisNearPairs: ordered unique pairs, subset of exact with identical cos") {
    val approx = Similarity.axisNearPairs(corpus, minCos = 0.5, nBits = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(approx.map(_._1).distinct.length == approx.length,
      "xor-probing symmetry + id_a < id_b must yield each pair exactly once")
    approx.foreach { case ((a, b), _) => assert(a < b) }
    val exact = Similarity.exactNearPairs(corpus, minCos = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    approx.foreach { case (key, cos) =>
      assert(exact.get(key).contains(cos),
        s"pair $key not in the exact answer (or cos differs)")
    }
  }

  test("connectedComponents over axisNearPairs matches brute-force components") {
    import graft.operators.Dedup
    val pairs = Similarity.axisNearPairs(corpus, minCos = 0.5, nBits = 6)
    val ids = corpus.select(col("vec_id").as("id"))
    // Serial union-find oracle on the same pair list.
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = ids.collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(nodes.map(k => k -> k).toSeq: _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = nodes.map(k => k -> find(k)).toMap
    assert(edges.nonEmpty, "the near-pair graph must have edges to label")
    // The default takes the driver finisher; localEdges = 0 runs star rounds.
    for ((path, localEdges) <- Seq("driver finisher" -> Dedup.LocalEdges,
                                   "distributed star rounds" -> 0L)) {
      val got = Dedup.connectedComponents(ids, pairs, localEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"$path must equal union-find")
    }
  }

  test("axisKnnGraph plan: bucket equi-join, no cartesian, partial top-k pushdown") {
    val plan = Similarity.axisKnnGraph(corpus, k = 5, nBits = 6)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      "knn graph must stay an equi-join on bucket")
    assert(plan.contains("WindowGroupLimit"),
      "top-k must push a partial group limit below the shuffle")
  }

  test("centroidConfusion: well-separated clusters give a diagonal matrix; " +
    "centroids are layout-independent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(5)
    // Three tight clusters around orthogonal anchors, small jitter.
    val rows = for (lbl <- 0 until 3; i <- 0 until 40) yield {
      val v = Array.fill(8)(rnd.nextFloat() * 0.1f)
      v(lbl) = 1.0f + rnd.nextFloat() * 0.1f
      (lbl.toLong * 100 + i, v.toSeq, lbl)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val byName = graft.operators.Similarity.centroidConfusion(df)
      .collect().map(r => ((r.getAs[Int]("label"), r.getAs[Int]("assigned_label")),
        r.getAs[Long]("n"))).toMap
    assert(byName.keySet == Set((0, 0), (1, 1), (2, 2)),
      s"off-diagonal assignments for separated clusters: $byName")
    assert(byName.values.sum == 120L)
    // Layout independence: a different partitioning must produce identical
    // centroid vectors (decimal-exact sums, not float accumulation order).
    val c1 = graft.operators.Similarity.labelCentroids(df)
      .collect().map(r => r.getAs[Int]("clabel") -> r.getSeq[Double](1)).toMap
    val c2 = graft.operators.Similarity.labelCentroids(df.repartition(13))
      .collect().map(r => r.getAs[Int]("clabel") -> r.getSeq[Double](1)).toMap
    assert(c1 == c2, "centroids changed under repartitioning")
  }

  test("cosineNearDupPairs only emits pairs above threshold, symmetric-free") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Near-random corpus vectors have no cos >= 0.95 pairs, which would
    // make the per-row assertions vacuous — plant exact duplicates so the
    // result is guaranteed non-empty and ordering/threshold are exercised.
    val dups = corpus.filter(col("vec_id") < 3)
      .select((col("vec_id") + 20000L).as("vec_id"), col("embedding"), col("label"))
    val pairs = Similarity.cosineNearDupPairs(corpus.unionByName(dups),
        minCos = 0.95, nBits = 4)
      .collect()
    assert(pairs.nonEmpty, "no pairs emitted — assertions below are vacuous")
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not ordered id_a < id_b")
      assert(r.getDouble(2) >= 0.95)
    }
  }

  test("cosineNearDupPairs finds planted duplicate vectors (LSH bucket " +
    "path: identical vectors always share a bucket)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Plant exact duplicates of vecs 0-4 under ids 10000-10004: cos = 1.0,
    // same LSH bucket by construction — recall is deterministic, not
    // probabilistic, for exact dups.
    val dups = corpus.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"),
        col("label"))
    val planted = corpus.unionByName(dups)
    val pairs = Similarity.cosineNearDupPairs(planted, minCos = 0.999, nBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 5).foreach { i =>
      assert(pairs.contains((i.toLong, 10000L + i)),
        s"planted dup pair ($i, ${10000 + i}) not found")
    }
  }

  test("exactNearPairs refuses unbounded input") {
    val e = intercept[IllegalArgumentException] {
      Similarity.exactNearPairs(corpus, minCos = 0.5, maxRows = 10)
    }
    assert(e.getMessage.contains("maxRows"))
  }

  test("deriveNBits: integer ceil(log2(ceil(n/target))), clamped to [1,16]") {
    // Exact boundaries: q = ceil(n/target); nBits = bit-width of q-1.
    assert(Similarity.deriveNBits(0, 32) == 1)
    assert(Similarity.deriveNBits(1, 32) == 1)
    assert(Similarity.deriveNBits(32, 32) == 1)    // q=1
    assert(Similarity.deriveNBits(33, 32) == 1)    // q=2  -> 1 bit
    assert(Similarity.deriveNBits(65, 32) == 2)    // q=3  -> 2 bits
    assert(Similarity.deriveNBits(500, 32) == 4)   // q=16 -> 4 bits
    assert(Similarity.deriveNBits(2000, 32) == 6)  // q=63 -> 6 bits
    assert(Similarity.deriveNBits(2049, 32) == 7)  // q=65 -> 7 bits
    assert(Similarity.deriveNBits(Long.MaxValue / 2, 32) == 16, "upper clamp")
    // Scale-safety invariant: expected bucket population never exceeds
    // target by more than 2x below the clamp (the defining property that
    // keeps the self-join linear in N).
    for (n <- Seq(100L, 1000L, 10000L, 100000L, 1000000L)) {
      val b = Similarity.deriveNBits(n, 32)
      if (b < 16) assert(n.toDouble / (1 << b) <= 64.0,
        s"n=$n nBits=$b expected bucket ${n / (1 << b)} > 2x target")
    }
  }

  test("axisKnnGraph bucket cap drops oversized buckets; stats report them") {
    import spark.implicits._
    // 30 vectors in one orthant (all-positive first coords => bucket 3 at
    // nBits=2) + 4 in another; cap=8 must drop the big bucket's candidates.
    val rows = (0 until 30).map(i => (i.toLong, Seq(1.0f, 1.0f, 0.1f * i))) ++
      (0 until 4).map(i => (100L + i, Seq(-1.0f, 1.0f, 0.2f * i)))
    val df = rows.toDF("vec_id", "embedding")
    val stats = axisBucketStats(df, nBits = 2, maxBucketSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(stats.contains((30L, 1L, true)), s"stats must flag the 30-bucket: ${stats.toSeq}")
    assert(stats.contains((4L, 1L, false)))
    val g = Similarity.axisKnnGraph(df, k = 3, nBits = 2, probeHamming = 0,
      maxBucketSize = 8).collect().map(r => (r.getLong(0), r.getLong(1)))
    // probeHamming=0: the only candidates come from a vector's own bucket,
    // so capping the 30-bucket leaves ONLY the small bucket's pairs.
    assert(g.nonEmpty && g.forall { case (a, b) => a >= 100L && b >= 100L },
      s"capped bucket still produced pairs: ${g.toSeq.take(5)}")
    // Uncapped control: the big bucket dominates.
    val g2 = Similarity.axisKnnGraph(df, k = 3, nBits = 2, probeHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(g2.exists { case (a, _) => a < 100L })
  }

  test("dot_f: HOF-identical values; null on length mismatch or null element") {
    import spark.implicits._
    import graft.functions.VectorFunctions
    import org.apache.spark.sql.functions.{aggregate, lit, transform, zip_with}
    val df = corpus.limit(50).select(col("embedding").as("a"),
      reverse(col("embedding")).as("b"))
    val toD = (v: org.apache.spark.sql.Column) => transform(v, x => x.cast("double"))
    val cmp = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("fast"),
      aggregate(zip_with(toD(col("a")), toD(col("b")), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("hof"))
      .collect()
    cmp.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      "dot_f must be bit-identical to the aggregate/zip_with form"))
    // Null semantics match the HOF form: length mismatch and null element
    // both yield NULL, never an exception or a partial sum.
    val edge = Seq(
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)),
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val vals = edge.select(VectorFunctions.dot(col("a"), col("b")).as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(vals(0).isEmpty, "length mismatch must be NULL")
    assert(vals(1).contains(5.0))
    val withNullElem = spark.sql(
      "SELECT dot_f(array(cast(1.0 as float), cast(null as float)), " +
        "array(cast(1.0 as float), cast(2.0 as float))) AS d")
      .collect()(0)
    assert(withNullElem.isNullAt(0), "null element must be NULL")
  }

  test("dot_f SQL coercion: int arrays fold numerically; NULL argument is NULL") {
    // The registration sites cast non-float/double arguments to
    // array<double> (ExpectsInputTypes is private[sql] on this build), so
    // the HOF form's semantics survive: ints work, NULL stays NULL.
    val r = spark.sql("SELECT dot_f(array(1, 2), array(3, 4)) AS d").collect()(0)
    assert(r.getDouble(0) == 11.0, s"int-array dot_f: ${r}")
    val n = spark.sql(
      "SELECT dot_f(CAST(NULL AS ARRAY<DOUBLE>), array(1.0, 2.0)) AS d").collect()(0)
    assert(n.isNullAt(0), "NULL argument must give NULL, not an error")
  }

  test("VectorFunctions work on a session without dot_f registered " +
    "(self-contained Column API)") {
    import graft.functions.VectorFunctions
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val s2 = spark.newSession()
    s2.sessionState.functionRegistry.dropFunction(FunctionIdentifier("dot_f"))
    s2.sessionState.functionRegistry.dropFunction(FunctionIdentifier("l2sq_f"))
    SparkSession.setActiveSession(s2)
    try {
      import s2.implicits._
      val df = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
        .select(VectorFunctions.dot(col("a"), col("b")).as("d"),
          VectorFunctions.l2Squared(col("a"), col("b")).as("l2"))
      val row = df.collect()(0)
      assert(row.getDouble(0) == 11.0 && row.getDouble(1) == 8.0,
        "Column helpers must self-register on the active session")
    } finally SparkSession.setActiveSession(spark)
  }

  test("semanticDedup: keep-smallest-id within cell; cross-cell dups " +
    "unreported by design; boundary distance counts as dup") {
    import spark.implicits._
    val v0 = Seq(1.0f, 0.0f)
    // id 1/2 identical in cell 0 -> 2 dies, 1 survives.
    // id 3 in cell 1 with the SAME vector -> survives (cluster-pruned:
    // cross-cell comparison never happens; the SemDeDup recall tradeoff).
    // id 4 in cell 0 at squared-L2 exactly tau=0.25 from id 1 -> dup
    // (<= is inclusive). id 5 in cell 0 beyond tau -> survives.
    val rows = Seq(
      (1L, 0L, v0), (2L, 0L, v0), (3L, 1L, v0),
      (4L, 0L, Seq(1.0f, 0.5f)),   // d2 = 0.25 == tau
      (5L, 0L, Seq(2.0f, 0.0f))    // d2 = 1.0 > tau
    ).toDF("vec_id", "cell", "embedding")
    val got = Similarity.semanticDedup(rows, tau = 0.25)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> true,
      4L -> false, 5L -> true), s"got $got")
  }

  test("semanticDedup: chain A~B, B~C with A,C apart keeps only A " +
    "(smaller id wins transitively through the pairwise rule)") {
    import spark.implicits._
    // B is within tau of both A and C; A and C are 4.0 apart (> tau).
    // Pairwise rule: B dies to A; C dies to B (a smaller id within tau
    // — even though B itself is a dup). Production semantics: one scan
    // decides per-row keep/drop without chasing the dup graph.
    val rows = Seq(
      (1L, 0L, Seq(0.0f, 0.0f)),
      (2L, 0L, Seq(1.0f, 0.0f)),
      (3L, 0L, Seq(2.0f, 0.0f))
    ).toDF("vec_id", "cell", "embedding")
    val got = Similarity.semanticDedup(rows, tau = 1.0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false), s"got $got")
  }

  test("incrementalSemanticDedup: corpus beats batch at ANY id; " +
    "within-batch smaller id wins; corpus rows never reported") {
    import spark.implicits._
    val corpus = Seq((100L, 0L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "cell", "embedding")
    val batch = Seq(
      (1L, 0L, Seq(1.0f, 0.0f)),  // dup of corpus 100 DESPITE smaller id
      (2L, 0L, Seq(5.0f, 0.0f)),  // fresh in cell 0
      (3L, 0L, Seq(5.0f, 0.5f)),  // dup of batch 2 (d2 = 0.25 == tau)
      (4L, 1L, Seq(1.0f, 0.0f))   // corpus twin in ANOTHER cell -> kept
    ).toDF("vec_id", "cell", "embedding")
    val got = Similarity.incrementalSemanticDedup(corpus, batch, tau = 0.25)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> false, 4L -> true),
      s"got $got")
  }

  test("semanticDedupProbed catches the just-across-the-boundary pair " +
    "single-cell semanticDedup provably misses, and reports home cells") {
    import spark.implicits._
    // y (id 1): home cell 0. x (id 2): identical vector, home cell 1,
    // second probe cell 0 — the boundary pair. Single-cell scope (home
    // cells only) keeps both; the top-2 probe kills x.
    val rows = Seq(
      (1L, Seq(0L, 9L), Seq(1.0f, 0.0f)),
      (2L, Seq(1L, 0L), Seq(1.0f, 0.0f)),
      (3L, Seq(2L, 3L), Seq(1.0f, 0.0f))  // probes never reach cell 0
    ).toDF("vec_id", "cells", "embedding")
    val single = Similarity.semanticDedup(
        rows.select(col("vec_id"), element_at(col("cells"), 1).as("cell"),
          col("embedding")), tau = 0.25)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(single == Map(1L -> true, 2L -> true, 3L -> true),
      s"single-cell baseline must miss the boundary pair: $single")
    val probed = Similarity.semanticDedupProbed(rows, tau = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    assert(probed == Seq((1L, 0L, true), (2L, 1L, false), (3L, 2L, true)),
      s"got $probed")
    // Probing is one-sided by convention: the SMALLER id probing into
    // the larger's home does not kill the larger (only the row under
    // test expands) — pin that so the convention is explicit.
    val oneSided = Seq(
      (1L, Seq(0L, 1L), Seq(1.0f, 0.0f)),   // smaller id probes cell 1
      (2L, Seq(1L, 9L), Seq(1.0f, 0.0f)))   // larger id never probes 0
      .toDF("vec_id", "cells", "embedding")
    val got1 = Similarity.semanticDedupProbed(oneSided, tau = 0.25)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got1 == Map(1L -> true, 2L -> true), s"got $got1")
  }

  test("incrementalSemanticDedupProbed: batch probes top-2 against " +
    "home-cell corpus and smaller-id batch rows") {
    import spark.implicits._
    val corpus = Seq((100L, 0L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "cell", "embedding")
    val batch = Seq(
      // boundary dup of corpus 100: home 1, second probe 0
      (1L, Seq(1L, 0L), Seq(1.0f, 0.0f)),
      // fresh: probes never reach cell 0
      (2L, Seq(2L, 3L), Seq(1.0f, 0.0f)),
      // within-batch boundary dup of batch 2 (home 3, probe 2)
      (3L, Seq(3L, 2L), Seq(1.0f, 0.0f))
    ).toDF("vec_id", "cells", "embedding")
    val got = Similarity
      .incrementalSemanticDedupProbed(corpus, batch, tau = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L, false), (2L, 2L, true), (3L, 3L, false)),
      s"got $got")
  }

  test("semanticDecontaminateProbed: a boundary-straddling leak is " +
    "caught via the second probe; reference rows never reported") {
    import spark.implicits._
    val reference = Seq((1000L, 0L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "cell", "embedding")
    val rows = Seq(
      (1L, Seq(1L, 0L), Seq(1.0f, 0.0f)),  // leak: home 1, probe 0
      (2L, Seq(2L, 3L), Seq(1.0f, 0.0f))   // probes never reach cell 0
    ).toDF("vec_id", "cells", "embedding")
    val got = Similarity
      .semanticDecontaminateProbed(reference, rows, tau = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L, false), (2L, 2L, true)), s"got $got")
    // Single-cell scrub misses the same leak (home cells only).
    val single = Similarity.semanticDecontaminate(reference,
        rows.select(col("vec_id"), element_at(col("cells"), 1).as("cell"),
          col("embedding")), tau = 0.25)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(single == Map(1L -> true, 2L -> true),
      s"single-cell baseline must miss the boundary leak: $single")
  }
}
