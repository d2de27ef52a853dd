package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.Shared

import graft.engine.ConfValue
import graft.functions.TextFunctions._
import graft.functions.HashExpressions

/** Deduplication operators for training-data pipelines, each designed as a
  * shuffle-minimal DataFrame transformation that survives a 1000-executor /
  * 100 TB scale-up:
  *
  *  - exact: one hash-shuffle on the fingerprint (map-side partial agg
  *    applies; the fingerprint is 16 bytes regardless of document size).
  *  - MinHash+LSH: per-row signatures (narrow), then ONE shuffle of the
  *    slim (id, band, bandHash) relation for candidate generation — the
  *    classic shingle→minhash→band→bucket-join pipeline. Signatures and
  *    shingle sets are NEVER shipped through the candidate shuffle; they are
  *    re-attached by id once per unique candidate pair. Bucket-size capping
  *    guards against degenerate-key skew (boilerplate text producing
  *    million-doc buckets would otherwise make one reducer quadratic);
  *    [[lshBucketStats]] reports what the cap would drop.
  *  - SimHash: 64-bit signature per doc, candidates from 16-bit chunk
  *    banding (hamming ≤ 3 ⇒ some chunk of 4 equal), verify by bit_count.
  */
object Dedup {

  /** Exact dedup on normalized-text fingerprint: keeps the lowest id per
    * group. Returns the surviving rows.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(fingerprint(col(textCol))).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Exact-dedup group summary: fingerprint, surviving id, group size. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash+LSH candidate pairs: (id_a, id_b) with id_a < id_b. The band
    * hashes are computed straight from the token array in one custom-
    * expression pass (no shingle strings, no signature array — see
    * [[HashExpressions.MinHashBandHashes]]); the only shuffled relation is
    * (id: long, band: int, bh: long) — ~20 bytes/row regardless of document
    * size — so shuffle volume at 100 TB is O(docs × bands), not
    * O(docs × text). ONE shuffle: ids are gathered per (band, bucketHash)
    * and pairs generated bucket-locally — no bucket-size pre-join and no
    * self-join.
    *
    * Probability a pair with shingle-jaccard j becomes a candidate:
    * 1 - (1 - j^r)^(k/r). Defaults (k=64, r=2, 32 bands) give recall
    * 1 - 1e-4 at j=0.5, 1 - 1e-23 at j=0.9, and a ~0.3% false-candidate
    * rate at j=0.01 (false candidates cost only the exact-verify pass —
    * they can never reach the output). Wider bands (r=4, 16 bands) are
    * cheaper but their recall at j=0.5 is only 0.64: choose r so the
    * S-curve midpoint (k/r)^(-1/r) sits well below the emit threshold.
    *
    * @param maxBucketSize skew guard: LSH buckets larger than this are
    *                      dropped before pair generation (degenerate
    *                      boilerplate keys). Dropped buckets lose their
    *                      candidate pairs — monitor with [[lshBucketStats]].
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int = 5, k: Int = 64, r: Int = 2,
                        maxBucketSize: Int = 1000): DataFrame = {
    HashExpressions.register(df.sparkSession)
    val toks = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= shingleLen)
    val bands = toks.select(col("id"),
      posexplode(HashExpressions.minhashBands(col("toks"), shingleLen, k, r))
        .as(Seq("band", "bh")))

    // Size-filter BEFORE collect_list: filtering on size(ids) afterwards
    // would still materialize a degenerate bucket's full id array in one
    // reducer (an un-spillable agg buffer) before dropping it. The window
    // count shares the (band, bh) partitioning with the groupBy — no extra
    // shuffle — and spills to disk if a partition is huge, so collected
    // arrays are hard-bounded by maxBucketSize.
    val wb = Window.partitionBy(col("band"), col("bh"))
    val buckets = bands
      .withColumn("__bsz", count(lit(1)).over(wb))
      .filter(col("__bsz") >= 2 && col("__bsz") <= maxBucketSize)
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(col("id")).as("ids"))

    buckets
      .select(explode(pairCombos(array_sort(col("ids")))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** All ordered pairs (x, y) with x < y from a sorted array. */
  private def pairCombos(sorted: Column): Column =
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + 2, greatest(size(sorted) - i - 1, lit(0))),
        y => struct(x.as("a"), y.as("b")))))

  /** LSH bucket-size histogram for the cap diagnostic: one row per bucket
    * size with the number of buckets of that size and whether the
    * `maxBucketSize` cap would drop them.
    */
  def lshBucketStats(df: DataFrame, idCol: String, textCol: String,
                     shingleLen: Int = 5, k: Int = 64, r: Int = 2,
                     maxBucketSize: Int = 1000): DataFrame = {
    HashExpressions.register(df.sparkSession)
    val toks = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= shingleLen)
    toks.select(col("id"),
        posexplode(HashExpressions.minhashBands(col("toks"), shingleLen, k, r))
          .as(Seq("band", "bh")))
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .withColumn("dropped_by_cap", col("bucket_size") > maxBucketSize)
  }

  /** Near-duplicate pairs with EXACT shingle jaccard, LSH-accelerated:
    * candidates from [[minhashCandidates]], then shingle sets re-attached by
    * id (two hash joins on the small candidate set) and exact
    * intersection/union computed. With default k/r (64/2, 32 bands) the
    * candidate recall at jaccard = threshold = 0.5 is 1 - 1e-4, rising
    * steeply above it (1 - 1e-23 at j = 0.9), so the output equals the
    * all-pairs exact answer up to that recall while the cost stays
    * O(docs × bands) + O(candidates) instead of O(docs²) — this is the
    * oracle-verifiable form of minhash dedup.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleLen: Int = 5, threshold: Double = 0.5,
                   k: Int = 64, r: Int = 2,
                   maxBucketSize: Int = 1000): DataFrame = {
    val cand = minhashCandidates(df, idCol, textCol, shingleLen, k, r, maxBucketSize)
    // Re-attach TEXT (not precomputed shingle arrays) by id and rebuild
    // shingles only for candidate rows: the exact-verify shingle cost is
    // O(candidates), not O(corpus), and no shingle array rides a shuffle.
    val slim = df.select(col(idCol).as("id"), col(textCol).as("_text"))
    cand
      .join(slim.select(col("id").as("id_a"), col("_text").as("_ta")), Seq("id_a"))
      .join(slim.select(col("id").as("id_b"), col("_text").as("_tb")), Seq("id_b"))
      .withColumn("sh_a", array_distinct(wordShingles(col("_ta"), shingleLen)))
      .withColumn("sh_b", array_distinct(wordShingles(col("_tb"), shingleLen)))
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Near-dup pairs with minhash-ESTIMATED jaccard (no exact verify pass):
    * candidates as above, signatures re-attached by id once per unique pair.
    * Cheaper than [[nearDupPairs]] when shingle sets are large; the estimate
    * has stddev ≈ sqrt(j(1-j)/k).
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 64, r: Int = 2, shingleLen: Int = 5,
                   threshold: Double = 0.5,
                   maxBucketSize: Int = 1000): DataFrame = {
    HashExpressions.register(df.sparkSession)
    val toksDf = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= shingleLen)
    val sigs = toksDf.select(col("id"),
      HashExpressions.minhashSignature(col("toks"), shingleLen, k).as("sig"))
    val cand = minhashCandidates(df, idCol, textCol, shingleLen, k, r, maxBucketSize)
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          m => m)).cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Near-dup pairs BETWEEN a new batch and an existing corpus — the
    * incremental-refresh shape of [[nearDupPairs]]: when 100 TB are already
    * deduplicated and a daily slice arrives, only batch×corpus pairs matter
    * (corpus×corpus was settled when the corpus was built; batch×batch is
    * a separate, much smaller [[nearDupPairs]] call). Band hashes are
    * computed per side (narrow), candidates come from the (band, bh)
    * equi-join — so the shuffled volume is O((corpus+batch) × bands) slim
    * rows and the exact-verify cost is O(candidates), never corpus×batch.
    * The corpus-side band relation is corpus-lifetime-stable: persist or
    * pre-write it once and every future batch reuses it.
    *
    * @param maxBucketSize skew cap on the CORPUS side of a band bucket
    *                      (degenerate boilerplate keys), same contract as
    *                      [[minhashCandidates]].
    * @return (corpus_id, batch_id, jaccard) with exact shingle jaccard.
    */
  def incrementalNearDupPairs(corpus: DataFrame, batch: DataFrame,
                              idCol: String, textCol: String,
                              shingleLen: Int = 5, threshold: Double = 0.5,
                              k: Int = 64, r: Int = 2,
                              maxBucketSize: Int = 1000): DataFrame = {
    HashExpressions.register(corpus.sparkSession)
    def bands(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
        .filter(size(col("toks")) >= shingleLen)
        .select(col("id"),
          posexplode(HashExpressions.minhashBands(col("toks"), shingleLen, k, r))
            .as(Seq("band", "bh")))
    val cb = bands(corpus)
    // Cap degenerate corpus buckets BEFORE the cross-side join, and size-
    // filter BEFORE collect_list (same un-spillable-buffer rationale as
    // minhashCandidates: collected arrays stay hard-bounded by the cap).
    val wb = Window.partitionBy(col("band"), col("bh"))
    val okCorpus = cb
      .withColumn("__bsz", count(lit(1)).over(wb))
      .filter(col("__bsz") <= maxBucketSize)
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(col("id")).as("cids"))
    val cand = bands(batch)
      .join(okCorpus, Seq("band", "bh"))
      .select(explode(col("cids")).as("corpus_id"), col("id").as("batch_id"))
      .dropDuplicates("corpus_id", "batch_id")
    val slimC = corpus.select(col(idCol).as("corpus_id"), col(textCol).as("_tc"))
    val slimB = batch.select(col(idCol).as("batch_id"), col(textCol).as("_tb"))
    cand
      .join(slimC, Seq("corpus_id"))
      .join(slimB, Seq("batch_id"))
      .withColumn("sh_a", array_distinct(wordShingles(col("_tc"), shingleLen)))
      .withColumn("sh_b", array_distinct(wordShingles(col("_tb"), shingleLen)))
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("corpus_id"), col("batch_id"), col("jaccard"))
  }

  /** Incremental admission: rows of `batch` that near-dup NOTHING in the
    * already-deduplicated corpus (and are not exact dups of it either —
    * exact dup is jaccard 1.0, a subset of near-dup). Batch-internal dups
    * are NOT handled here; run [[minhashDedup]] on the batch first.
    */
  def incrementalAdmit(corpus: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String,
                       shingleLen: Int = 5, threshold: Double = 0.5): DataFrame = {
    val hits = incrementalNearDupPairs(corpus, batch, idCol, textCol,
      shingleLen, threshold)
      .select(col("batch_id")).distinct()
    batch.join(hits, batch(idCol) === hits("batch_id"), "left_anti")
  }

  /** Incremental CLUSTER maintenance — the production daily step AFTER
    * the batch-vs-corpus pairs: admit a batch into EXISTING cluster
    * labels with bounded work, no corpus-wide CC recompute. Completes
    * the refresh loop [[incrementalNearDupPairs]] /
    * [[BandedHamming.incrementalPairs]] start: those produce the edges;
    * this folds them into the settled labels.
    *
    * Inputs: `corpusLabels` (id, cluster_id) MUST be min-label CC output
    * (the [[connectedComponents]] contract: cluster_id = min member id);
    * `batchIds` the full batch node set (id); `crossPairs` (corpus_id,
    * batch_id) batch-vs-corpus edges; `batchPairs` (id_a, id_b)
    * batch-internal edges. Corpus and batch id spaces must be disjoint
    * (the [[graft.queries.Pipeline]] fixtures use disjoint high-bit
    * offsets).
    *
    * Algorithm — work is O(batch + touched clusters), NEVER O(corpus):
    *  1. Contract each corpus cluster to its LABEL: a cross edge
    *     (c, b) becomes (label(c), b). Corpus×corpus edges need no
    *     replay — they were settled when the corpus was built, and
    *     corpus fingerprints don't change; two settled clusters can
    *     only merge through a batch path, which the bridge graph
    *     carries.
    *  2. Run CC over the small bridge graph (batch nodes + touched
    *     cluster labels) — the driver finisher handles it locally
    *     below the edge threshold.
    *  3. New label of a merged component = its min member = min(batch
    *     ids, cluster labels) — which equals the from-scratch min-label
    *     over the full merged node set BECAUSE corpus labels are
    *     already their clusters' minima.
    *  4. Corpus rows relabel through a BROADCAST join on cluster_id
    *     (the relabel map is O(touched clusters)); unaffected clusters
    *     — the overwhelming majority at 100 TB — keep their label
    *     without shuffling a single corpus row. Fresh unlinked batch
    *     items label themselves (new singleton clusters).
    *
    * Returns (id, cluster_id) for corpus ∪ batch, EQUAL to from-scratch
    * [[connectedComponents]] over the combined graph (differentially
    * proven by p92's oracle and DedupPropertySpec's bridge case).
    */
  def admitToClusters(corpusLabels: DataFrame, batchIds: DataFrame,
                      crossPairs: DataFrame,
                      batchPairs: DataFrame): DataFrame = {
    // Contracted cross edges, shared (r19 pass fusion): this
    // subtree — whose lineage is the caller's banded candidate join, the
    // admission's dominant cost — is read by THREE independent consumers
    // (bridgeEdges via CC's edge count, and bridgeNodes on both of
    // bridgeLabels' uses below), so without the cut the banded join ran
    // three times per admission (ProfileQuery: 32 jobs / 65 s summed task
    // time for 7.4 k output rows on p92). Rows are slim (two longs,
    // O(touched clusters + batch) — never corpus-sized).
    val bridgeCross = Shared(crossPairs
      .join(corpusLabels.select(col("id").as("corpus_id"), col("cluster_id")),
        Seq("corpus_id"))
      .select(col("cluster_id").as("id_a"), col("batch_id").as("id_b")))
    val bridgeEdges =
      bridgeCross.unionByName(batchPairs.select(col("id_a"), col("id_b")))
    val bridgeNodes = batchIds.select(col("id"))
      .unionByName(bridgeCross.select(col("id_a").as("id")))
      .distinct()
    // The bridge labels are shared too: consumed by BOTH the relabel map
    // and batchOut — unshared, each re-evaluates bridgeNodes' distinct
    // and (absent the cut above) the banded join under it.
    val bridgeLabels = Shared(connectedComponents(bridgeNodes, bridgeEdges))
    // Relabel map: bridge nodes that ARE corpus cluster labels, keyed by
    // the old label. O(touched clusters) rows -> broadcast.
    val relabel = bridgeLabels
      .join(corpusLabels.select(col("cluster_id").as("id")).distinct(),
        Seq("id"))
      .select(col("id").as("__old"), col("cluster_id").as("__new"))
    val corpusOut = corpusLabels
      .join(broadcast(relabel), col("cluster_id") === col("__old"),
        "left_outer")
      .select(col("id"),
        coalesce(col("__new"), col("cluster_id")).as("cluster_id"))
    val batchOut = bridgeLabels.join(batchIds.select(col("id")), Seq("id"))
      .select(col("id"), col("cluster_id"))
    corpusOut.unionByName(batchOut)
  }

  /** DELETION propagation through settled cluster labels — the
    * [[admitToClusters]] dual (right-to-be-forgotten: a delete list must
    * scrub the corpus, and its cluster labels must stay consistent with
    * a from-scratch rebuild over the survivors) with the same
    * bounded-work discipline: node REMOVAL may SPLIT a cluster (the
    * deleted node was a bridge) or orphan a label (the deleted node was
    * the cluster minimum), so connected components is recomputed — but
    * ONLY over clusters that contain a deleted id. Untouched clusters —
    * the overwhelming majority at 100 TB — keep their labels without
    * re-running CC or shuffling their rows through it, which is exactly
    * the from-scratch answer because CC labels are closed over the edge
    * list: no edge leaves a cluster, so deleting nodes of touched
    * clusters cannot change any untouched component.
    *
    * Contract: `pairs` must be the SAME edge list `labels` was computed
    * from (the settled state every refresh loop already lands — p92's
    * fixture shape). Returns (id, cluster_id) for every SURVIVING id,
    * equal to from-scratch [[connectedComponents]] over the surviving
    * subgraph (differentially proven by p140's oracle; the cluster
    * SPLIT case is pinned in DedupPropertySpec).
    */
  def propagateDeletes(labels: DataFrame, pairs: DataFrame,
                       deletes: DataFrame): DataFrame = {
    val del = deletes.select(col("id")).distinct()
    // Touched clusters: one slim row per cluster containing a deleted
    // id — O(|deletes|), measured-gated onto the label scan.
    val (touched, _) = graft.engine.NdvSizing.measuredBroadcast(
      labels.join(del, Seq("id")).select(col("cluster_id")).distinct())
    val untouched = labels.join(touched, Seq("cluster_id"), "left_anti")
    // Touched-cluster survivors, shared (r19 pass fusion):
    // consumed THREE times (both endpoint filters of `e` plus the CC node
    // set), each evaluation re-running the labels⋈touched⋈deletes chain —
    // on p153 that chain bottoms out in the caller's CC-output lineage.
    // Slim (one id column, O(touched-cluster members)).
    val tsurv = Shared(labels.join(touched, Seq("cluster_id"))
      .join(del, Seq("id"), "left_anti")
      .select(col("id")))
    // Edge list restricted to touched-cluster SURVIVORS on both ends:
    // the only edges whose components can have changed.
    val e = pairs.select(col("id_a"), col("id_b"))
      .join(tsurv.select(col("id").as("id_a")), Seq("id_a"))
      .join(tsurv.select(col("id").as("id_b")), Seq("id_b"))
    untouched.select(col("id"), col("cluster_id"))
      .unionByName(connectedComponents(tsurv, e))
  }

  /** Drop every doc that near-dups a lower-id doc (single pass over the pair
    * list — the greedy keep-lowest rule; full transitive closure would need
    * iterative connected components, overkill for dedup-keep-one).
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 64, r: Int = 2, shingleLen: Int = 5,
                   threshold: Double = 0.5): DataFrame = {
    val losers = nearDupPairs(df, idCol, textCol, shingleLen, threshold, k, r)
      .select(col("id_b").as("_loser")).distinct()
    df.join(losers, col(idCol) === col("_loser"), "left_anti")
  }

  /** Duplicate clusters = connected components over the near-dup pair
    * graph: every doc labeled with the min id reachable through near-dup
    * edges (singletons label themselves). Iterative min-label propagation —
    * each round is one join + aggregate, rounds ≤ graph diameter (near-dup
    * components are shallow: exact-dup stars have diameter 2). The loop is
    * driver-coordinated but all data work is distributed joins; at 100 TB
    * this is the standard big-data CC pattern (large-star/small-star is the
    * same idea with better skew behavior).
    */
  def dupClusters(df: DataFrame, idCol: String, textCol: String,
                  shingleLen: Int = 5, threshold: Double = 0.5,
                  k: Int = 64, r: Int = 2,
                  maxIters: Int = 20): DataFrame =
    connectedComponents(df.select(col(idCol).as("id")),
      nearDupPairs(df, idCol, textCol, shingleLen, threshold, k, r),
      maxIters)
      .select(col("id").as(idCol), col("cluster_id"))

  /** Corpus snapshot diff: per-id status between two snapshots of a
    * corpus — `added` (only in the new snapshot), `removed` (only in the
    * old), `changed` (present in both, normalized-text fingerprint
    * differs), `unchanged`. The first question of every incremental
    * crawl/ingest cycle ("what actually changed since yesterday"), and
    * the input that scopes downstream work: only `added`/`changed` rows
    * need re-dedup, re-scoring, or re-embedding.
    *
    * Scale shape: each side reduces to a slim (id, 16-byte fingerprint)
    * relation before the single full-outer equi-join on the id — document
    * text never crosses the shuffle. Bucket both snapshots by the id
    * column to make the join exchange-free on repeated daily runs.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    // Presence is a per-side marker column, NOT fingerprint nullness: a row
    // with NULL text has a null fingerprint but IS present, and deciding
    // membership from the fp would label a deleted null-text doc 'added'.
    // A null-vs-non-null fp comparison is null -> falls through to
    // 'unchanged' (matching SQL CASE semantics in the oracle).
    def fps(df: DataFrame, fpName: String, inName: String) =
      df.select(col(idCol).as("id"), fingerprint(col(textCol)).as(fpName),
        lit(true).as(inName))
    fps(oldDf, "__fp_old", "__in_old")
      .join(fps(newDf, "__fp_new", "__in_new"), Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(col("__fp_old") =!= col("__fp_new"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Quality-aware canonical selection: per near-dup cluster, keep the
    * member with the HIGHEST `score` (ties break to the lowest id) instead
    * of [[minhashDedup]]'s arbitrary lowest-id survivor — the production
    * dedup rule when duplicates differ in quality (boilerplate-stripped vs
    * raw scrapes of one page: keep the clean one). Returns one row per
    * cluster: (cluster_id, keep_id, best_score, n_members).
    *
    * Cost on top of [[dupClusters]] is one narrow score evaluation and a
    * SINGLE cluster-keyed aggregation: `max_by` picks the winner and
    * `count` the size in the same partial/final pass, so the whole
    * [[dupClusters]] DAG (including its minhash band shuffle — the
    * corpus's biggest exchange) is evaluated exactly once. An earlier
    * version fed the label join into a window rank AND a separate size
    * aggregate then re-joined the two — Spark evaluates an unpersisted
    * subtree once per consumer, so that plan paid the band shuffle twice
    * (17.8 s vs 2 s for this shape in a loaded-JVM bench at sf0.1).
    *
    * @param score scoring expression over `df`'s columns (e.g.
    *              [[graft.functions.TextFunctions.qualityScore]] of the
    *              text column). Must be deterministic: survivors must not
    *              depend on physical layout. `idCol` must be numeric (ties
    *              break to the lowest id via max_by on (score, -id)).
    */
  def bestOfCluster(df: DataFrame, idCol: String, textCol: String,
                    score: Column,
                    shingleLen: Int = 5, threshold: Double = 0.5,
                    k: Int = 64, r: Int = 2): DataFrame = {
    val clusters = dupClusters(df, idCol, textCol, shingleLen, threshold, k, r)
      .withColumnRenamed(idCol, "__cid")
    df.select(col(idCol).as("__cid"), score.as("__score"))
      .join(clusters, Seq("__cid"))
      .groupBy(col("cluster_id"))
      .agg(
        max_by(struct(col("__cid"), col("__score")),
               struct(col("__score"), (-col("__cid")).as("__negid")))
          .as("__win"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("__win.__cid").as("keep_id"),
        col("__win.__score").as("best_score"), col("n_members"))
  }

  /** Leakage-free train/val/test carve-out: split membership is a pure
    * hash of the near-dup CLUSTER id, not the document id, so a document
    * and every near-duplicate of it always land in the same split. A plain
    * id-hash split (e.g. [[graft.operators.Sampling.assignSplits]]) leaks:
    * two 0.9-jaccard copies of one page can straddle train and test, and
    * the model is then evaluated on paraphrases of its training data. Cost
    * on top of the plain split is one [[dupClusters]] pass plus one
    * corpus-sized equi-join re-attaching each document's cluster label
    * (the label table has one row per DOCUMENT, not per cluster — both
    * sides shuffle on the id at scale; bucket both by the id column to
    * make the join exchange-free). Singleton documents are their own
    * cluster, so the realized fractions still converge to the requested
    * ones.
    */
  def leakageFreeSplits(df: DataFrame, idCol: String, textCol: String,
                        splits: Seq[(String, Double)],
                        shingleLen: Int = 5, threshold: Double = 0.5,
                        k: Int = 64, r: Int = 2): DataFrame = {
    val clusters = dupClusters(df, idCol, textCol, shingleLen, threshold, k, r)
      .withColumnRenamed(idCol, "__cid")
    val withClusters = df.join(clusters, col(idCol) === col("__cid"))
      .drop("__cid")
    Sampling.assignSplits(withClusters, "cluster_id", splits)
  }

  /** Edge-count threshold below which connected components finish on the
    * driver (union-find + broadcast label join) instead of running more
    * distributed rounds. Default 2^20 edges ≈ 16 MB collected — safe for
    * any real driver; set `spark.graft.cc.localEdgeThreshold` to 0 to force
    * the fully-distributed path. The collect is BOUNDED by this conf: at
    * 100 TB a billion-edge dup graph takes the distributed path (and star
    * contraction monotonically shrinks the edge set, so later rounds still
    * cut over to the local finisher once contracted below the threshold) —
    * this is the standard hybrid production CC implementations use, because
    * once the edge set fits in one process, O(E α(E)) union-find beats any
    * number of additional shuffle rounds.
    */
  private[graft] def localEdgeThreshold(df: DataFrame): Long =
    ConfValue.get(df.sparkSession, "spark.graft.cc.localEdgeThreshold",
      1L << 20)(_.toLong)

  /** Both endpoints (and the node ids) must be integral for the driver
    * finisher's LongMap union-find; non-integral ids just stay on the
    * distributed path.
    */
  private def integralIds(ids: DataFrame, pairList: DataFrame): Boolean = {
    import org.apache.spark.sql.types._
    def ok(dt: DataType) = dt match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    ok(ids.schema("id").dataType) &&
      ok(pairList.schema("id_a").dataType) && ok(pairList.schema("id_b").dataType)
  }

  /** Serial union-find with path compression; roots are the component
    * minimum, matching the distributed operators' min-label contract. (The
    * parity property tests deliberately do NOT call this — they compare
    * every execution path against an independent reimplementation, so the
    * driver-finisher path is differentially tested too.)
    */
  private def unionFindLabels(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = parent.getOrElse(x, x)
      while (parent.getOrElse(r, r) != r) r = parent(r)
      // Path compression second pass.
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toArray.map(n => (n, find(n)))
  }

  /** Driver finisher: collect the (bounded) edge list, union-find, then one
    * broadcast join labels every edge-touched node; singletons label
    * themselves. The only shuffle-free CC plan possible, and exactly right
    * when edges ≪ corpus (the common case after candidate generation).
    */
  private def finishComponentsLocally(ids: DataFrame, pairList: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val edges = pairList
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect()
    val labels = unionFindLabels(edges).toSeq.toDF("__tid", "label")
    // cluster_id keeps the id column's type (labels are existing ids, so
    // the narrowing cast is lossless) — same contract as the distributed
    // paths, whose least/coalesce output follows the id type.
    val idType = ids.schema("id").dataType
    ids.select(col("id"))
      .join(broadcast(labels), col("id").cast("long") === col("__tid"), "left_outer")
      .select(col("id"),
        coalesce(col("label").cast(idType), col("id")).as("cluster_id"))
  }

  /** The CC node set of a media signature table: ids of the rows that
    * decoded (`media_id`, `decoded` columns), as `id`.
    */
  def decodedIds(sigs: DataFrame): DataFrame =
    sigs.filter(col("decoded")).select(col("media_id").as("id"))

  /** Near-duplicate clusters of decoded media: [[connectedComponents]]
    * over [[decodedIds]] and the modality's banded pair generator
    * (`ImageHash`/`AudioHash`/`VideoHash.nearDupPairs`) run UNCAPPED
    * (`maxBucketSize = Long.MaxValue`), so the labels equal the all-pairs
    * graph's — the property oracle equality needs. Returns
    * (`id`, `cluster_id`).
    */
  def uncappedClusters(sigs: DataFrame,
                       nearDupPairs: (DataFrame, Long) => DataFrame): DataFrame =
    connectedComponents(decodedIds(sigs), nearDupPairs(sigs, Long.MaxValue))

  /** The survivor table of a dedup: every [[uncappedClusters]] member as
    * (`id`, `cluster_id`, `is_survivor`), ordered by `id`; the survivor is
    * the cluster's minimum id, so each cluster keeps exactly one member.
    */
  def survivors(sigs: DataFrame,
                nearDupPairs: (DataFrame, Long) => DataFrame): DataFrame =
    uncappedClusters(sigs, nearDupPairs)
      .select(col("id"), col("cluster_id"),
        (col("id") === col("cluster_id")).as("is_survivor"))
      .orderBy(col("id"))

  /** Connected components over ANY undirected pair list (`id_a`, `id_b`
    * columns; `ids` supplies the full node set so singletons label
    * themselves): every node labeled with the min id reachable through
    * edges. The generic engine behind [[dupClusters]] and
    * [[graft.operators.Similarity]]-based semantic clustering. Returns
    * (`id`, `cluster_id`).
    *
    * Strategy: below [[localEdgeThreshold]] edges, the driver finisher;
    * otherwise min-label propagation (one join+agg per round — optimal for
    * the shallow components near-dup graphs produce) for up to `maxIters`
    * rounds; a graph whose diameter exceeds that switches to
    * [[connectedComponentsStar]], which contracts long paths in O(log²)
    * rounds instead of O(diameter) — the 100 TB-safe fallback for
    * adversarial chain-shaped components.
    *
    * The loop runs over EDGE-TOUCHED nodes only: in a deduplicated corpus
    * nearly every document is a singleton whose label can never change, so
    * iterating over `ids` would shuffle the whole corpus once per round.
    * Touched nodes are O(edges); singletons label themselves in one final
    * left join.
    */
  def connectedComponents(ids: DataFrame, pairList: DataFrame,
                          maxIters: Int = 20): DataFrame = {
    val pairs = Shared(pairList.select(col("id_a"), col("id_b")))
    val threshold = localEdgeThreshold(ids)
    if (threshold > 0 && integralIds(ids, pairList) && pairs.count() <= threshold) {
      val out = finishComponentsLocally(ids, pairs)
      Shared.release(pairs)
      return out
    }
    // Symmetric edge list: propagate labels both directions.
    val edges = Shared(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    // Every round is shared: each round's plan references the prior
    // round's labels twice, so an unshared plan doubles per round — at
    // diameters near maxIters the logical plan alone OOMs the driver in
    // explainString. The `changed` count that immediately follows every
    // round materializes it, so sharing costs no extra job.
    var labels = Shared(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    // Round N is dead once round N+1 materializes; released eagerly so
    // storage never holds more than two rounds.
    var prevCp: DataFrame = labels
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nmin"))
      // Carry the previous label through so convergence is read off the
      // same materialized pass — one join per round, not two.
      val next = Shared(
        labels.join(neighborMin, labels("id") === neighborMin("src"), "left_outer")
          .select(col("id"), col("label").as("_old"),
            least(col("label"), coalesce(col("nmin"), col("label"))).as("label")))
      val changed = next.filter(col("label") =!= col("_old")).count()
      Shared.release(prevCp)
      prevCp = next
      labels = next.select(col("id"), col("label"))
      converged = changed == 0
      iter += 1
    }
    Shared.release(edges)
    Shared.release(pairs)
    // A diameter beyond maxIters would silently split one true component
    // into several — wrong answers, undetectably — if we returned here.
    // Instead switch algorithms: star contraction's round count grows with
    // log² of the component size, not its diameter, so chain-shaped
    // components (the propagation worst case) still converge.
    if (!converged) {
      Shared.release(prevCp)
      return connectedComponentsStar(ids, pairList)
    }
    // Singletons (never touched by an edge) label themselves.
    ids.select(col("id"))
      .join(labels.select(col("id").as("__tid"), col("label")),
        col("id") === col("__tid"), "left_outer")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster_id"))
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — public algorithm): each round re-points high neighbors
    * (large-star) then low neighbors (small-star) of every node at the
    * minimum of its closed neighborhood. The edge set monotonically
    * converges to a forest of stars centered at each component's minimum —
    * in O(log²) rounds rather than O(diameter), which is why this is the
    * scale path behind [[connectedComponents]] for long-chain graphs.
    * Same contract: (`id`, `cluster_id`), singletons label themselves.
    */
  def connectedComponentsStar(ids: DataFrame, pairList: DataFrame,
                              maxRounds: Int = 50): DataFrame = {
    // Normalized undirected edge set: (u, v) with u < v, no self-loops.
    def normalize(df: DataFrame): DataFrame =
      df.select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    def sym(df: DataFrame): DataFrame =
      df.select(col("u").as("src"), col("v").as("dst"))
        .union(df.select(col("v").as("src"), col("u").as("dst")))
    // m(src) = min of the closed neighborhood.
    def withM(s: DataFrame): DataFrame = {
      val mins = s.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
      s.join(mins, "src").withColumn("__m", least(col("src"), col("__mn")))
    }
    // Large-star: every neighbor ABOVE src re-points at m(src).
    def largeStar(df: DataFrame): DataFrame =
      normalize(withM(sym(df)).filter(col("dst") > col("src"))
        .select(col("dst").as("u"), col("__m").as("v")))
    // Small-star: every neighbor AT OR BELOW src (and src itself) re-points
    // at m(src); dropping the m node avoids self-loops. Both branches read
    // ONE wm subtree — canonically identical subtrees, so the physical
    // planner reuses the symmetrize+groupBy exchange instead of running
    // the heaviest pipeline of the round twice.
    def smallStar(df: DataFrame): DataFrame = {
      val wm = withM(sym(df))
      // No inner distinct on the src-branch (r18 optimization round):
      // the outer normalize() ends in a distinct over the SAME (u, v)
      // key, and the union in between destroys the inner exchange's
      // partitioning, so the dedupe ran the branch through an extra
      // full exchange only to have its output reshuffled anyway — one
      // wasted shuffle + stage per star round (rounds are the wall cost
      // of the whole algorithm: p38 runs ~13 of them serially).
      normalize(wm
        .filter(col("dst") <= col("src") && col("dst") =!= col("__m"))
        .select(col("dst").as("u"), col("__m").as("v"))
        .union(wm.filter(col("src") =!= col("__m"))
          .select(col("src").as("u"), col("__m").as("v"))))
    }
    // Every round is shared: each round's plan references the prior
    // round's several times (sym twice per star op), so an unshared plan
    // grows multiplicatively — by round ~15 it alone OOMs the driver. The
    // signature aggregation that immediately follows every round is
    // itself an action, so it materializes the shared rows as a side
    // effect — one job per round instead of two.
    var edges = Shared(normalize(
      pairList.select(col("id_a").as("u"), col("id_b").as("v"))))
    // Convergence = the normalized edge set reached a fixed point, detected
    // by (count, order-independent hash-sum) — a collision would need two
    // DIFFERENT edge sets of equal size with equal 64-bit sums inside one
    // monotone contraction sequence; with the round cap as a backstop this
    // is the standard streaming-equality tradeoff.
    def signature(df: DataFrame): (Long, BigDecimal) = {
      // DECIMAL(38,0) sum: 64-bit hash sums overflow LongType under ANSI.
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).collect()(0)
      (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    var sig = signature(edges)
    // Hybrid cutover: contraction monotonically shrinks the edge set, so
    // the moment it fits under the bounded-collect threshold, the driver
    // union-find + broadcast-join finisher beats any further shuffle
    // rounds. Safe mid-loop because no edge-touched node ever leaves the
    // edge set before convergence (every node survives each star round as
    // either an m-target or the larger endpoint of a surviving edge —
    // the same invariant the final labeling pass depends on); the
    // randomized parity tests exercise both cutover points.
    val threshold = if (integralIds(ids, pairList)) localEdgeThreshold(ids) else 0L
    var converged = false
    var round = 0
    while (!converged && round < maxRounds && sig._1 > 0) {
      if (sig._1 <= threshold) {
        val out = finishComponentsLocally(ids, edges.select(
          col("u").as("id_a"), col("v").as("id_b")))
        Shared.release(edges) // finisher collected eagerly; blocks dead
        return out
      }
      val next = Shared(smallStar(largeStar(edges)))
      val nsig = signature(next)
      Shared.release(edges)
      edges = next
      converged = nsig == sig
      sig = nsig
      round += 1
    }
    if (!converged && sig._1 > 0)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxRounds rounds")
    // Stars guarantee every node's neighborhood min IS the component min:
    // one final propagation pass reads the labels off.
    val nbrMin = sym(edges).groupBy(col("src")).agg(min(col("dst")).as("__nm"))
    ids.select(col("id"))
      .join(nbrMin, ids("id") === nbrMin("src"), "left_outer")
      .select(col("id"),
        least(col("id"), coalesce(col("__nm"), col("id"))).as("cluster_id"))
  }

  /** Benchmark decontamination: corpus documents containing at least
    * `minContainment` of some benchmark document's `shingleLen`-gram set
    * (containment = |corpus ∩ bench| / |bench| — the asymmetric overlap
    * decontamination uses, NOT jaccard: a training doc that embeds a whole
    * benchmark item scores 1.0 regardless of how much else it contains).
    * One shuffle on the shingle, then a (cid, bid) count — no pairwise
    * scan. Shingles participate as 64-bit hashes straight from the token
    * array ([[HashExpressions.ShingleHashes]]): the join key shuffles and
    * compares ~5× cheaper than shingle strings and no string shingle is
    * ever materialized; the SQL oracle joins the strings and agrees absent
    * 64-bit collisions (negligible at any realistic cardinality). At
    * corpus scale also pre-drop degenerate-document-frequency shingles
    * (boilerplate) before the join.
    */
  def contaminationPairs(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         shingleLen: Int = 5,
                         minContainment: Double = 0.5): DataFrame =
    contaminationCore(corpus, benchmark, idCol, textCol, shingleLen,
      minContainment, prune = (cs, _) => cs)

  /** [[contaminationPairs]] with a Bloom-filter pre-prune of the corpus
    * side — the shape that matters when the benchmark's shingle set is too
    * large to broadcast RAW but fits as a compact bitset: the driver builds
    * a bloom over the benchmark's distinct shingle hashes (~1.2 bytes/key
    * at fpp=0.01 — a 100M-shingle benchmark is a ~120 MB filter where the
    * exact hash set would be 800 MB + join-table overhead) and every
    * executor drops corpus shingles the filter rejects BEFORE the join
    * shuffle. On a 100 TB corpus vs a benchmark suite, that eliminates the
    * shuffle for effectively all of the corpus (a non-member shingle
    * survives with probability fpp).
    *
    * Results are IDENTICAL to [[contaminationPairs]]: blooms have no false
    * negatives, and every false positive is eliminated by the exact
    * equi-join that follows — the filter only prunes, never decides. If the
    * filter would exceed `maxFilterBytes`, the prefilter is skipped and
    * this degrades to the plain join (same results, no broken broadcast).
    */
  def contaminationPairsBloom(corpus: DataFrame, benchmark: DataFrame,
                              idCol: String, textCol: String,
                              shingleLen: Int = 5,
                              minContainment: Double = 0.5,
                              fpp: Double = 0.01,
                              maxFilterBytes: Long = 64L << 20): DataFrame =
    contaminationCore(corpus, benchmark, idCol, textCol, shingleLen,
      minContainment, prune = { (cs, bs) =>
        // Single-pass sizing: each bs row is one (doc, distinct-shingle)
        // pair (ShingleHashes emits per-doc distinct hashes), so count(bs)
        // = Σ per-doc distinct counts ≥ the global distinct count — a
        // narrow map-side count instead of r10's persisted distinct +
        // count() + bloom-over-cached-distinct (a wide shuffle plus a
        // cached second pass). Overestimating n only WIDENS the filter
        // (effective fpp drops below the requested one); the bloom is then
        // built directly over bs — duplicate inserts are idempotent, so
        // skipping the distinct changes nothing.
        val n = bs.count()
        val bits = org.apache.spark.util.sketch.BloomFilter
          .optimalNumOfBits(math.max(n, 1L), fpp)
        // Empty benchmark set: stat.bloomFilter over zero rows yields a
        // null-buffer filter that NPEs on serialization. The join below
        // is empty regardless, so prune everything.
        if (n == 0) cs.filter(lit(false))
        // The overestimate can trip this cap earlier than the exact
        // distinct count would (shingles shared across benchmark docs are
        // counted once per doc) — the fallback is the plain join either
        // way: same results, just no pre-prune.
        else if (bits / 8 > maxFilterBytes) cs // honest fallback, same results
        else {
          val bloom = bs.stat.bloomFilter("sh", n, fpp)
          val bos = new java.io.ByteArrayOutputStream()
          bloom.writeTo(bos)
          cs.filter(HashExpressions.bloomContainsLong(col("sh"), bos.toByteArray))
        }
      })

  private def contaminationCore(corpus: DataFrame, benchmark: DataFrame,
                                idCol: String, textCol: String,
                                shingleLen: Int, minContainment: Double,
                                prune: (DataFrame, DataFrame) => DataFrame)
      : DataFrame = {
    HashExpressions.register(corpus.sparkSession)
    val cs = corpus.select(col(idCol).as("cid"),
      explode(HashExpressions.shingleHashes(tokens(col(textCol)), shingleLen)).as("sh"))
    val bs = benchmark
      .select(col(idCol).as("bid"),
        HashExpressions.shingleHashes(tokens(col(textCol)), shingleLen).as("__sharr"))
      .filter(size(col("__sharr")) > 0)
      .select(col("bid"), size(col("__sharr")).as("nb"),
        explode(col("__sharr")).as("sh"))
    prune(cs, bs).join(bs, Seq("sh"))
      .groupBy(col("cid"), col("bid"))
      .agg(count(lit(1)).as("__inter"), max(col("nb")).as("__nb"))
      .withColumn("containment",
        col("__inter").cast("double") / col("__nb"))
      .filter(col("containment") >= minContainment)
      .select(col("cid"), col("bid"), round(col("containment"), 6).as("containment"))
  }

  /** Per-document duplicated-span coverage — the exact-substring-dedup
    * signal of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"), at token-window granularity: a `windowLen`-token
    * window is DUPLICATED when the same window also occurs in at least one
    * OTHER document; per doc, report how many of its DISTINCT windows are
    * duplicated and the duplicated fraction (set semantics, matching
    * [[HashExpressions.ShingleHashes]]'s distinct-shingle output — a window
    * repeated within one doc counts once). Corpora with heavy cross-document
    * span duplication (mirrored boilerplate, syndicated text) surface
    * immediately; the fraction is the per-doc decision signal for span-level
    * cutting or doc-level dropping.
    *
    * Scale shape: windows participate only as 64-bit rolling hashes straight
    * from the token array ([[HashExpressions.ShingleHashes]]) — no window
    * string is ever materialized or shuffled. Cross-doc detection needs no
    * countDistinct: a window hash is cross-doc duplicated iff min(doc) !=
    * max(doc) over its occurrences — one map-side-combinable agg on the
    * 8-byte hash. The duplicated-hash set (typically a small fraction of all
    * windows) left-joins back onto the per-(doc, window) relation (AQE broadcasts
    * it when small), then one per-doc count. The SQL oracle re-derives the
    * same counts from window STRINGS, so the hashed path is differentially
    * verified end-to-end (agrees absent 64-bit collisions — negligible at
    * any realistic cardinality).
    */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
                      windowLen: Int = 8): DataFrame = {
    require(windowLen >= 2, s"windowLen=$windowLen must be >= 2")
    HashExpressions.register(df.sparkSession)
    val spans = df.select(col(idCol).as("id"),
        explode(HashExpressions.shingleHashes(tokens(col(textCol)), windowLen)).as("h"))
    val dupHashes = spans.groupBy(col("h"))
      .agg(min(col("id")).as("__mn"), max(col("id")).as("__mx"))
      .filter(col("__mn") < col("__mx"))
      .select(col("h"), lit(true).as("__dup"))
    spans.join(dupHashes, Seq("h"), "left_outer")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"),
           sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_frac",
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6))
  }

  /** Exact-substring span CUTTING — the transformation of Lee et al. 2022,
    * not just the signal ([[dupSpanCoverage]]): every `windowLen`-token
    * window occurrence whose window also appears in another document is cut
    * from every document EXCEPT the one with the smallest id (first
    * occurrence survives, including its own internal repeats); a token is
    * removed when any cut window covers it. Returns per doc: original token
    * count, tokens cut, and the rebuilt cleaned text (normalized-token
    * join; a fully-duplicated doc comes back as the empty string — the
    * downstream drop decision stays with the caller).
    *
    * Scale shape: positional windows are built narrowly (`transform` over
    * `sequence`, hashing the window with the codegen'd xxhash64 — positions
    * matter here, so the distinct-set [[HashExpressions.ShingleHashes]]
    * does not apply) and shuffle only as (id, pos, 8-byte hash). Ownership
    * is one map-side-combinable min/max agg per hash; covered token
    * positions expand w-fold but only for CUT windows (the duplicated
    * minority); reassembly is one per-doc sort of surviving (pos, token)
    * pairs — bounded by document length, the same per-group bound every
    * text operator here lives with. The SQL oracle re-derives the cut from
    * window STRINGS, differentially verifying the hashed path end-to-end.
    */
  def cutDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                        windowLen: Int = 8): DataFrame = {
    require(windowLen >= 2, s"windowLen=$windowLen must be >= 2")
    val base = df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
    val wins = base
      .filter(size(col("__toks")) >= windowLen)
      .select(col("id"), posexplode(
        transform(sequence(lit(0), size(col("__toks")) - windowLen),
          i => xxhash64(array_join(slice(col("__toks"), i + 1, lit(windowLen)), " "))))
        .as(Seq("pos", "h")))
    val owners = wins.groupBy(col("h"))
      .agg(min(col("id")).as("__mn"), max(col("id")).as("__mx"))
      .filter(col("__mn") < col("__mx"))
      .select(col("h"), col("__mn"))
    val covered = wins.join(owners, Seq("h"))
      .filter(col("id") =!= col("__mn"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + windowLen - 1)).as("tp"))
      .distinct()
    val toksPos = base.select(col("id"),
      posexplode(col("__toks")).as(Seq("tp", "tok")))
    val kept = toksPos.join(covered, Seq("id", "tp"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("tp"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    val cutCounts = covered.groupBy(col("id")).agg(count(lit(1)).as("n_tokens_cut"))
    base.select(col("id"), size(col("__toks")).cast("long").as("n_tokens"))
      .join(cutCounts, Seq("id"), "left_outer")
      .join(kept, Seq("id"), "left_outer")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_tokens_cut"), lit(0L)).as("n_tokens_cut"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Per-doc 64-bit SimHash signatures. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      HashExpressions.simhash64(tokens(col(textCol))).as("simhash"))

  /** SimHash near-dup pairs with hamming ≤ maxHamming, candidates via bit
    * chunk banding. The signature splits into `maxHamming + 1` chunks, so
    * by pigeonhole any pair within the radius shares at least one intact
    * chunk — FULL recall at any radius, with cost rising as chunks narrow
    * (a w-bit chunk collides on random pairs with probability 2^-w per
    * chunk; the default radius 3 gives 16-bit chunks). Only (id, chunk,
    * cv) is shuffled; signatures re-attach by id.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming=$maxHamming out of [0,15]: chunks below 4 bits collide " +
        "on effectively every pair — use a different sketch for wide radii")
    val nChunks = maxHamming + 1
    // Near-equal chunk widths covering all 64 bits (first `rem` chunks get
    // the extra bit).
    val baseW = 64 / nChunks
    val rem = 64 % nChunks
    val widths = (0 until nChunks).map(i => baseW + (if (i < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val sigs = simhashSignatures(df, idCol, textCol)
    val chunkCols = (0 until nChunks).map { i =>
      val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1
      shiftrightunsigned(col("simhash"), offsets(i)).bitwiseAND(lit(mask))
    }
    val chunks = sigs.select(col("id"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk", "cv")))
    val a = chunks.select(col("chunk"), col("cv"), col("id").as("id_a"))
    val b = chunks.select(col("chunk"), col("cv"), col("id").as("id_b"))
    a.join(b, Seq("chunk", "cv"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(sigs.select(col("id").as("id_a"), col("simhash").as("sh_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("simhash").as("sh_b")), Seq("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact n-gram jaccard similarity for all pairs of a SMALL corpus slice:
    * token-set intersection/union sizes. Quadratic by construction — the
    * operator refuses inputs larger than `maxRows` so it cannot be pointed
    * at a full corpus; use [[nearDupPairs]] for corpus-scale sweeps.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   minJaccard: Double, maxRows: Long = 10000L): DataFrame = {
    val toks = df.select(col(idCol).as("id"), array_distinct(tokens(col(textCol))).as("toks"))
    val probe = toks.limit((maxRows + 1).toInt).count()
    require(probe <= maxRows,
      s"jaccardPairs input exceeds maxRows=$maxRows (all-pairs is quadratic); " +
        "pre-filter the corpus or use Dedup.nearDupPairs")
    val a = toks.select(col("id").as("id_a"), col("toks").as("t_a"))
    val b = toks.select(col("id").as("id_b"), col("toks").as("t_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("jaccard",
        round(size(array_intersect(col("t_a"), col("t_b"))).cast("double") /
          size(array_union(col("t_a"), col("t_b"))), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
