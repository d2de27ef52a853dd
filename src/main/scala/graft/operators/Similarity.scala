package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorFunctions._
import graft.functions.HashExpressions

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set, one narrow pass over the corpus + a TopK per query
  *    (`Window`+`row_number`, which Spark executes as partial top-k per
  *    partition before the shuffle). Baseline and verifier.
  *  - [[axisLshTopK]]: axis-sign LSH bucket join. Corpus is bucketed once
  *    (narrow, cacheable); a query only scans its own bucket (and optionally
  *    multi-probe neighbors), so cost per query is corpus/2^nBits instead of
  *    corpus.
  */
object Similarity {

  /** Exact cosine top-k for each query row. `queries` must be small enough to
    * broadcast (it is sent to every executor).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     queryIdCol: String = "query_id"): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
      norm2(col(vecCol)).as("nrm"))
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("qv"),
      norm2(col(vecCol)).as("qnrm"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos",
        round(cosineFromNorms(col("v"), col("qv"), col("nrm"), col("qnrm")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rk"))
  }

  /** Bucket the corpus by random-hyperplane LSH. Deterministic in (nBits,
    * seed) — no fitted model to ship; any executor recomputes the same
    * bucket for the same vector.
    */
  def bucketed(corpus: DataFrame, nBits: Int = 12, seed: Long = 42L,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
      HashExpressions.hyperplaneLsh(col(vecCol), nBits, seed).as("bucket"))

  /** Axis-aligned LSH bucket: bit `b` = sign of coordinate `b`. The same
    * family as [[bucketed]] with the hyperplanes fixed to the coordinate
    * axes instead of seeded pseudo-random directions — still locality
    * sensitive for cosine (each bit flips with probability θ/π), but
    * reproducible in plain SQL, which makes the whole approximate result
    * differentially testable against DuckDB (the oracle recomputes the
    * exact candidate set, not just invariants).
    */
  def axisBucketed(corpus: DataFrame, nBits: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nBits >= 1 && nBits <= 31, s"nBits=$nBits out of range [1,31]")
    val bucket = (0 until nBits)
      .map(b => when(element_at(col(vecCol), b + 1) > lit(0), lit(1 << b)).otherwise(lit(0)))
      .reduce(_ + _)
    corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"), bucket.as("bucket"))
  }

  /** ANN top-k via multi-probe over [[axisBucketed]] buckets: each query
    * scans its own bucket plus every bucket within hamming distance
    * `probeHamming` of it (bucket equi-join against broadcast probes,
    * partial top-k per partition via Window). Cost per query ≈
    * Σ_{i≤probeHamming} C(nBits, i) / 2^nBits of the corpus, and the result
    * is exactly reproducible by a SQL oracle.
    */
  def axisLshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                  nBits: Int, probeHamming: Int = 1,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  queryIdCol: String = "query_id"): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 2, "probeHamming in [0,2]")
    val c = axisBucketed(corpus, nBits, idCol, vecCol)
    val masks: Seq[Int] = {
      val h1 = if (probeHamming >= 1) (0 until nBits).map(1 << _) else Nil
      val h2 = if (probeHamming >= 2)
        (for { i <- 0 until nBits; j <- (i + 1) until nBits }
          yield (1 << i) | (1 << j))
      else Nil
      Seq(0) ++ h1 ++ h2
    }
    val qb = axisBucketed(queries, nBits, queryIdCol, vecCol)
    val q = qb.select(col("vec_id").as("query_id"), col("v").as("qv"),
        norm2(col("v")).as("qnrm"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val scored = c.withColumn("nrm", norm2(col("v")))
      .join(broadcast(q), Seq("bucket"))
      .withColumn("cos",
        round(cosineFromNorms(col("v"), col("qv"), col("nrm"), col("qnrm")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rk"))
  }

  /** Bucket-count parameter derived from corpus size: the smallest nBits
    * with an EXPECTED bucket population ≤ `targetBucketSize`, i.e.
    * ceil(log2(ceil(n / target))), clamped to [1, 16]. Pure integer
    * arithmetic (no floating log) so a SQL oracle reproduces it exactly:
    * `length(printf('%b', q-1))` in DuckDB is the same bit-width
    * computation. Keeping nBits a function of N is what makes the bucket
    * self-joins ([[axisKnnGraph]], [[axisNearPairs]]) LINEAR in corpus
    * size — at fixed nBits their cost N²·probes/2^nBits is quadratic again
    * at 100× the corpus.
    *
    * The 16-bit clamp also means [[axisBucketed]] reads at most the first
    * 16 coordinates; embeddings must have dimension ≥ 16 for the full
    * bucket range (dim < nBits leaves high bits constant — results stay
    * correct but buckets coarsen to 2^dim).
    */
  def deriveNBits(n: Long, targetBucketSize: Int): Int = {
    require(targetBucketSize > 0, "targetBucketSize must be positive")
    val q = math.max(1L, (n + targetBucketSize - 1) / targetBucketSize)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(q - 1) // ceil(log2 q)
    math.max(1, math.min(16, bits))
  }

  /** k-nearest-neighbor GRAPH over the whole corpus (semantic-dedup /
    * clustering substrate): for every vector, its top-k most-cosine-similar
    * other vectors, found via a bucket self-join over [[axisBucketed]]
    * multi-probe LSH. Each vector probes its own bucket plus every bucket
    * within hamming distance `probeHamming`; distinct probe masks hit
    * distinct buckets, so a candidate pair appears exactly once — no
    * dedup pass. Cost ≈ N × (N/2^nBits) × probes instead of N²; size nBits
    * with [[deriveNBits]] so that ratio stays constant as the corpus grows.
    * Axis-sign buckets keep the whole approximate graph SQL-recomputable,
    * so the oracle verifies the output bit-for-bit (same differential
    * pattern as [[axisLshTopK]]).
    *
    * @param maxBucketSize skew guard, same contract as
    *                      [[graft.operators.Dedup.minhashCandidates]]: a
    *                      bucket whose population exceeds this (embedding
    *                      mass concentrated on one orthant — e.g. all-
    *                      positive sentence embeddings) is dropped from the
    *                      candidate join entirely, bounding per-reducer work
    *                      at probes × maxBucketSize per vector instead of
    *                      one reducer owning the degenerate bucket. Vectors
    *                      in dropped buckets still rank candidates reached
    *                      through their probe buckets. What the cap drops
    *                      is the [[axisBucketed]] population above it.
    */
  def axisKnnGraph(corpus: DataFrame, k: Int, nBits: Int, probeHamming: Int = 1,
                   maxBucketSize: Int = 4096,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 2, "probeHamming in [0,2]")
    val c = axisBucketed(corpus, nBits, idCol, vecCol)
    // Bucket-size cap: the kept-bucket list is ≤ 2^nBits rows — broadcast
    // by construction, so the guard costs one tiny join, no extra shuffle
    // of the corpus.
    val okBuckets = c.groupBy(col("bucket")).agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBucketSize)
      .select(col("bucket"))
    val masks: Seq[Int] = {
      val h1 = if (probeHamming >= 1) (0 until nBits).map(1 << _) else Nil
      val h2 = if (probeHamming >= 2)
        (for { i <- 0 until nBits; j <- (i + 1) until nBits }
          yield (1 << i) | (1 << j))
      else Nil
      Seq(0) ++ h1 ++ h2
    }
    val cn = c.withColumn("nrm", norm2(col("v")))
    val probes = cn.select(col("vec_id").as("id_a"), col("v").as("v_a"),
      col("nrm").as("nrm_a"),
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    // Cap applied to the candidate side BEFORE the self-join: filtering
    // after it would let the dropped bucket's reducer enumerate its
    // quadratic pair set first and discard it later — the exact work the
    // cap exists to prevent. Joining the ≤2^nBits-row broadcast here
    // empties oversized buckets ahead of the expensive join.
    val scored = probes
      .join(cn.select(col("bucket"), col("vec_id").as("nbr_id"), col("v").as("v_b"),
          col("nrm").as("nrm_b"))
          .join(broadcast(okBuckets), Seq("bucket")),
        Seq("bucket"))
      .filter(col("id_a") =!= col("nbr_id"))
      .withColumn("cos",
        round(cosineFromNorms(col("v_a"), col("v_b"), col("nrm_a"), col("nrm_b")), 4))
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("id_a").as("vec_id"), col("nbr_id"), col("cos"), col("rk"))
  }

  /** Per-label centroids with DECIMAL-exact dimension sums (float summation
    * order would make centroids layout-dependent; decimal accumulation
    * makes them byte-identical on any cluster), rounded to 6 dp. Returns
    * (clabel, cvec: array<double>). Scale shape: one narrow posexplode to
    * (label, dim, v) rows, one shuffle on (label, dim), then a per-label
    * array rebuild — |labels| × dims stays tiny regardless of corpus size.
    */
  def labelCentroids(corpus: DataFrame, labelCol: String = "label",
                     vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val x = corpus.select(col(labelCol).as("clabel"),
      posexplode(col(vecCol)).as(Seq("d", "v")))
    x.groupBy(col("clabel"), col("d"))
      .agg((sum(col("v").cast(DecimalType(18, 9))).cast("double") / count(lit(1)))
        .as("cv_raw"))
      .select(col("clabel"), col("d"), round(col("cv_raw"), 6).as("cv"))
      .groupBy(col("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("cv")))),
        s => s.getField("cv")).as("cvec"))
  }

  /** Nearest-prototype assignment: every vector goes to the label whose
    * centroid is closest in squared L2 (ties broken by label). The
    * centroid table is |labels| rows — broadcast by construction; the scan
    * stays narrow. Returns the (true label, assigned label, n) confusion
    * counts — the standard embedding-space quality diagnostic for a
    * labeled corpus.
    */
  def centroidConfusion(corpus: DataFrame, labelCol: String = "label",
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val cents = labelCentroids(corpus, labelCol, vecCol)
    // Codegen'd squared-L2 — identical left-to-right accumulation to the
    // zip_with/aggregate form and to the oracle's list_sum, so the argmin
    // (and thus the confusion counts) are bit-stable across the swap.
    val d2 = l2Squared(col(vecCol), col("cvec"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__d2"), col("clabel"))
    corpus.select(col(idCol), col(labelCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .withColumn("__d2", d2)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col(labelCol), col("clabel").as("assigned_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** Exact all-pairs cosine near-dup detection over a SMALL corpus slice:
    * the oracle anchor for [[cosineNearDupPairs]]. Quadratic — refuses
    * inputs larger than `maxRows` (same guard rationale as
    * [[Dedup.jaccardPairs]]).
    */
  def exactNearPairs(corpus: DataFrame, minCos: Double, maxRows: Long = 10000L,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    require(c.limit((maxRows + 1).toInt).count() <= maxRows,
      s"exactNearPairs input exceeds maxRows=$maxRows (all-pairs is quadratic); " +
        "use cosineNearDupPairs for corpus-scale sweeps")
    val cn = c.withColumn("nrm", norm2(col("v")))
    val a = cn.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("nrm_a"))
    val b = cn.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("nrm_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(cosineFromNorms(col("v_a"), col("v_b"), col("nrm_a"), col("nrm_b")), 4))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** All near-pairs above a cosine threshold via multi-probe AXIS-sign
    * buckets — the SQL-recomputable sibling of [[cosineNearDupPairs]]
    * (same differential-oracle rationale as [[axisLshTopK]]). Pair (a,b)
    * is emitted exactly once: xor-probing is symmetric, so the candidate
    * appears in both directions and `id_a < id_b` keeps one. Feed the
    * result to [[graft.operators.Dedup.connectedComponents]] for semantic
    * (embedding-space) duplicate clusters.
    */
  def axisNearPairs(corpus: DataFrame, minCos: Double, nBits: Int,
                    probeHamming: Int = 1,
                    maxBucketSize: Int = 4096,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 2, "probeHamming in [0,2]")
    val c = axisBucketed(corpus, nBits, idCol, vecCol)
    // Same skew cap as [[axisKnnGraph]]: a degenerate orthant cannot hand
    // one reducer a quadratic bucket.
    val okBuckets = c.groupBy(col("bucket")).agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBucketSize)
      .select(col("bucket"))
    val masks: Seq[Int] = {
      val h1 = if (probeHamming >= 1) (0 until nBits).map(1 << _) else Nil
      val h2 = if (probeHamming >= 2)
        (for { i <- 0 until nBits; j <- (i + 1) until nBits }
          yield (1 << i) | (1 << j))
      else Nil
      Seq(0) ++ h1 ++ h2
    }
    val cn = c.withColumn("nrm", norm2(col("v")))
    val probes = cn.select(col("vec_id").as("id_a"), col("v").as("v_a"),
      col("nrm").as("nrm_a"),
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    // Cap BEFORE the self-join (see axisKnnGraph): a post-join filter would
    // still enumerate the dropped bucket's quadratic pair set.
    probes
      .join(cn.select(col("bucket"), col("vec_id").as("id_b"), col("v").as("v_b"),
          col("nrm").as("nrm_b"))
          .join(broadcast(okBuckets), Seq("bucket")),
        Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(cosineFromNorms(col("v_a"), col("v_b"), col("nrm_a"), col("nrm_b")), 4))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** All near-pairs above a cosine threshold via LSH buckets (embedding
    * near-dup detection). One shuffle on bucket id.
    */
  def cosineNearDupPairs(corpus: DataFrame, minCos: Double,
                         nBits: Int = 10, seed: Long = 42L,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = bucketed(corpus, nBits, seed, idCol, vecCol)
      .withColumn("nrm", norm2(col("v")))
    val a = c.select(col("bucket"), col("vec_id").as("id_a"), col("v").as("v_a"),
      col("nrm").as("nrm_a"))
    val b = c.select(col("bucket"), col("vec_id").as("id_b"), col("v").as("v_b"),
      col("nrm").as("nrm_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(cosineFromNorms(col("v_a"), col("v_b"), col("nrm_a"), col("nrm_b")), 4))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** SemDeDup-style semantic dedup: within-CLUSTER exact pair pruning
    * over a trained coarse quantizer's cell assignment (Abbas et al.,
    * "SemDeDup", arXiv:2303.09540 — cluster first, compare only inside
    * clusters). A row is a duplicate iff some SAME-cell row with a
    * smaller id lies within squared-L2 `tau`; the smallest id of every
    * dup group therefore survives, as do all singletons.
    *
    * Scale shape: ONE shuffle hashing both sides on `cellCol`, then an
    * equi-join — never corpus-all-pairs. Work per cell is quadratic in
    * cell size: that is the SemDeDup design point, and why the trained
    * k must grow with the corpus (k ≈ N/targetCellSize keeps per-cell
    * cost constant; cross-cell near-dups are unreported by design —
    * the documented recall tradeoff of cluster-scoped comparison).
    *
    * Returns every input row as (idCol, cellCol, kept) — `kept=false`
    * marks rows a production pipeline would drop.
    */
  def semanticDedup(rows: DataFrame, tau: Double,
                    idCol: String = "vec_id", cellCol: String = "cell",
                    vecCol: String = "embedding"): DataFrame = {
    val a = rows.select(col(idCol).as("__id"), col(cellCol).as("__cell"),
      col(vecCol).as("__v"))
    val b = rows.select(col(idCol).as("__id2"), col(cellCol).as("__cell"),
      col(vecCol).as("__v2"))
    val dup = a.join(b, Seq("__cell"))
      .filter(col("__id2") < col("__id") &&
        l2Squared(col("__v"), col("__v2")) <= tau)
      .select(col("__id")).distinct()
      .withColumn("__dup", lit(true))
    a.join(dup, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("__cell").as(cellCol),
        coalesce(!col("__dup"), lit(true)).as("kept"))
  }

  /** MULTI-PROBE [[semanticDedup]] — the cross-cell recall lever (the
    * r17 verdict's #2): the row under test probes its `nProbe` nearest
    * coarse cells (the probe-expansion the trained IVF queries already
    * use) instead of only its home cell, so a near-dup pair straddling
    * a cell boundary — the single-cell algorithm's documented miss — is
    * recovered whenever the larger-id row's probe list reaches the
    * smaller-id row's home cell. Comparanda stay in their home cell
    * (the standard multi-probe convention: expand the query side, not
    * the corpus side — expanding both would square the probe cost).
    *
    * `cellsCol`: array of the row's nProbe nearest cells, NEAREST
    * FIRST — element 1 is the home cell reported back. Cost: nProbe ×
    * the single-cell join volume, same one-shuffle shape (the explode
    * is narrow; the join still hashes on one cell key).
    */
  def semanticDedupProbed(rows: DataFrame, tau: Double,
      idCol: String = "vec_id", cellsCol: String = "cells",
      vecCol: String = "embedding"): DataFrame = {
    val a = rows.select(col(idCol).as("__id"),
      element_at(col(cellsCol), 1).as("__home"),
      explode(col(cellsCol)).as("__cell"), col(vecCol).as("__v"))
    val b = rows.select(col(idCol).as("__id2"),
      element_at(col(cellsCol), 1).as("__cell"), col(vecCol).as("__v2"))
    val dup = a.join(b, Seq("__cell"))
      .filter(col("__id2") < col("__id") &&
        l2Squared(col("__v"), col("__v2")) <= tau)
      .select(col("__id")).distinct()
      .withColumn("__dup", lit(true))
    rows.select(col(idCol).as("__id"),
        element_at(col(cellsCol), 1).as("__home"))
      .join(dup, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("__home").as("cell"),
        coalesce(!col("__dup"), lit(true)).as("kept"))
  }

  /** Multi-probe [[incrementalSemanticDedup]]: the BATCH side probes
    * its `nProbe` nearest cells (`cellsCol`, nearest first) against
    * home-cell corpus rows and smaller-id home-cell batch rows — the
    * refresh loop with the same boundary-recall recovery as
    * [[semanticDedupProbed]]. Corpus rows are never expanded, never
    * self-joined, never reported.
    */
  def incrementalSemanticDedupProbed(corpus: DataFrame, batch: DataFrame,
      tau: Double, idCol: String = "vec_id", cellCol: String = "cell",
      cellsCol: String = "cells", vecCol: String = "embedding"): DataFrame = {
    val b = batch.select(col(idCol).as("__id"),
      element_at(col(cellsCol), 1).as("__home"),
      explode(col(cellsCol)).as("__cell"), col(vecCol).as("__v"))
    val c = corpus.select(col(idCol).as("__id2"),
      col(cellCol).as("__cell"), col(vecCol).as("__v2"))
    val b2 = batch.select(col(idCol).as("__id2"),
      element_at(col(cellsCol), 1).as("__cell"), col(vecCol).as("__v2"))
    val dupVsCorpus = b.join(c, Seq("__cell"))
      .filter(l2Squared(col("__v"), col("__v2")) <= tau)
      .select(col("__id"))
    val dupVsBatch = b.join(b2, Seq("__cell"))
      .filter(col("__id2") < col("__id") &&
        l2Squared(col("__v"), col("__v2")) <= tau)
      .select(col("__id"))
    val dup = dupVsCorpus.unionByName(dupVsBatch).distinct()
      .withColumn("__dup", lit(true))
    batch.select(col(idCol).as("__id"),
        element_at(col(cellsCol), 1).as("__home"))
      .join(dup, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("__home").as("cell"),
        coalesce(!col("__dup"), lit(true)).as("kept"))
  }

  /** The batch-vs-corpus refresh half of [[semanticDedup]] (the
    * `BandedHamming.incrementalPairs` shape for the semantic family): a
    * BATCH row is a duplicate iff a same-cell CORPUS row lies within
    * `tau` (any id — settled state always wins), or a same-cell batch
    * row with a smaller id does (the within-batch survivor rule).
    * Corpus rows are never joined against themselves and never
    * reported — a daily refresh re-prices only the new rows.
    *
    * Both joins hash on `cellCol` only; per-cell work is batch×cell
    * population, the same k ≈ N/targetCellSize discipline as
    * [[semanticDedup]].
    */
  def incrementalSemanticDedup(corpus: DataFrame, batch: DataFrame,
      tau: Double, idCol: String = "vec_id", cellCol: String = "cell",
      vecCol: String = "embedding"): DataFrame = {
    val b = batch.select(col(idCol).as("__id"), col(cellCol).as("__cell"),
      col(vecCol).as("__v"))
    val c = corpus.select(col(idCol).as("__id2"),
      col(cellCol).as("__cell"), col(vecCol).as("__v2"))
    val b2 = batch.select(col(idCol).as("__id2"),
      col(cellCol).as("__cell"), col(vecCol).as("__v2"))
    val dupVsCorpus = b.join(c, Seq("__cell"))
      .filter(l2Squared(col("__v"), col("__v2")) <= tau)
      .select(col("__id"))
    val dupVsBatch = b.join(b2, Seq("__cell"))
      .filter(col("__id2") < col("__id") &&
        l2Squared(col("__v"), col("__v2")) <= tau)
      .select(col("__id"))
    val dup = dupVsCorpus.unionByName(dupVsBatch).distinct()
      .withColumn("__dup", lit(true))
    b.join(dup, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("__cell").as(cellCol),
        coalesce(!col("__dup"), lit(true)).as("kept"))
  }

  /** Multi-probe [[semanticDecontaminate]]: the TRAINING side probes
    * its `nProbe` nearest cells (`cellsCol`, nearest first) against
    * home-cell REFERENCE rows — paraphrase-level leakage sitting just
    * across a cell boundary from its eval twin is the exact case the
    * single-cell scrub misses, and an eval-set scrub is where missed
    * recall costs the most (a leaked benchmark row poisons the eval).
    * Same one-sided conventions as [[semanticDedupProbed]]: only the
    * probing side expands, reference rows are never reported.
    */
  def semanticDecontaminateProbed(reference: DataFrame, rows: DataFrame,
      tau: Double, idCol: String = "vec_id", cellCol: String = "cell",
      cellsCol: String = "cells", vecCol: String = "embedding"): DataFrame = {
    val b = rows.select(col(idCol).as("__id"),
      explode(col(cellsCol)).as("__cell"), col(vecCol).as("__v"))
    val r = reference.select(col(cellCol).as("__cell"),
      col(vecCol).as("__v2"))
    val hit = b.join(r, Seq("__cell"))
      .filter(l2Squared(col("__v"), col("__v2")) <= tau)
      .select(col("__id")).distinct()
      .withColumn("__dup", lit(true))
    rows.select(col(idCol).as("__id"),
        element_at(col(cellsCol), 1).as("__home"))
      .join(hit, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("__home").as("cell"),
        coalesce(!col("__dup"), lit(true)).as("kept"))
  }

  /** Semantic decontamination: flag every row whose embedding lies
    * within squared-L2 `tau` of a same-cell REFERENCE row (the eval /
    * benchmark panel) — the embedding-space analog of the p26/p49
    * n-gram decontamination, catching paraphrase-level leakage that
    * token overlap misses. One-sided by design: rows are never
    * compared against each other (that is [[semanticDedup]]), and
    * reference rows are never reported. Same cluster-scoped join shape
    * and k-scaling discipline as the dedup family.
    */
  def semanticDecontaminate(reference: DataFrame, rows: DataFrame,
      tau: Double, idCol: String = "vec_id", cellCol: String = "cell",
      vecCol: String = "embedding"): DataFrame = {
    val b = rows.select(col(idCol).as("__id"), col(cellCol).as("__cell"),
      col(vecCol).as("__v"))
    val r = reference.select(col(cellCol).as("__cell"),
      col(vecCol).as("__v2"))
    val hit = b.join(r, Seq("__cell"))
      .filter(l2Squared(col("__v"), col("__v2")) <= tau)
      .select(col("__id")).distinct()
      .withColumn("__dup", lit(true))
    b.join(hit, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("__cell").as(cellCol),
        coalesce(!col("__dup"), lit(true)).as("kept"))
  }
}
