package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shared

import graft.engine.{AppState, Tables}
import graft.functions.{HashExpressions, KMeans, Pq, TextFunctions => TF}
import graft.operators.{AudioHash, BpeTrain, Dedup, Html, ImageHash, Layout, Mp4Meta, Multimodal, Profile, Quantize, Sampling, Similarity, TextOps, Urls, VideoHash, Warc}

/** LLM-training-data pipeline query corpus (beyond the reference's own
  * surface, mandated by BASELINE.json): dedup family, similarity search,
  * text analysis, multimodal binary plumbing. Each query's DuckDB twin is
  * in [[PipelineOracles]].
  */
object Pipeline {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  // Fanned loader (r18 optimization round) for the queries where ONE
  // expensive narrow pass dominates and the single-split scan pinned it
  // to one task (Tables.fanOutIfNarrow; size-derived, no-op at scale).
  // Applied ONLY where an interleaved same-JVM A/B (tools/ConfAb)
  // measured a win: a blanket fan-out of docs()/emb() was measured NET
  // NEGATIVE — queries that re-evaluate
  // the corpus subtree several times (p01 0.42×, p17 0.43×, p21 0.48×,
  // p50 0.50×, p27 0.56×, p57 0.63×, p13 0.64×, p40 0.76×) pay 32 tasks
  // of fixed overhead per re-evaluation where one cheap scan task
  // sufficed, and that swamps the parallelism win of the heavy-pass
  // queries (p45 1.75×, p147 1.79×, p15 1.15×). Per-query, measured —
  // the same discipline as the cache-vs-recompute calls.
  private def docsFanned(s: SparkSession, dir: String): DataFrame =
    Tables.loadFanned(s, dir, "documents", "doc_id")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** The vector queries' input contract: a non-null embedding of at least
    * 64 dims. Shorter rows are skipped, never padded.
    */
  private val validEmbedding =
    col("embedding").isNotNull && size(col("embedding")) >= 64
  private def validEmb(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).filter(validEmbedding)

  /** [[validEmb]] cut to its first 64 dims: the corpus of the queries that
    * plant copies, so a copy's distance never depends on trailing dims.
    */
  private def validEmb64(s: SparkSession, dir: String): DataFrame =
    validEmb(s, dir)
      .select(col("vec_id"), slice(col("embedding"), 1, 64).as("embedding"))

  /** `df` re-ingested under id + `offset`, byte for byte. */
  private def exactCopy(df: DataFrame, offset: Long): DataFrame =
    df.select((col("vec_id") + offset).as("vec_id"), col("embedding"))

  /** `df` re-ingested under id + `offset` with dim 1 REPLACED by 0.5, not
    * shifted, so a copy's distance to its source is plain double
    * arithmetic on parquet values.
    */
  private def nearCopy(df: DataFrame, offset: Long): DataFrame =
    df.select((col("vec_id") + offset).as("vec_id"),
      concat(array(lit(0.5f)), slice(col("embedding"), 2, 63))
        .as("embedding"))

  /** The planted duplicates of a [[validEmb64]] corpus: an exact copy of
    * every 10th vector (+1e6) and a near copy of every 20th (+2e6).
    */
  private def plantedCopies(base: DataFrame): DataFrame =
    exactCopy(base.filter(col("vec_id") % 10 === 3), 1000000L)
      .unionByName(nearCopy(base.filter(col("vec_id") % 20 === 7), 2000000L))

  /** FRESH vectors: every 25th of `base` with dims 1–8 replaced by 0.9
    * (+3e6), far from everything the corpus and its training saw.
    */
  private def freshVectors(base: DataFrame): DataFrame =
    base.filter(col("vec_id") % 25 === 11)
      .select((col("vec_id") + 3000000L).as("vec_id"),
        concat(array_repeat(lit(0.9f), 8), slice(col("embedding"), 9, 56))
          .as("embedding"))

  /** `df` (vec_id, embedding) with each vector's nearest cell of `m`. */
  private def assignCells(df: DataFrame, m: KMeans.Model): DataFrame = {
    val dl = KMeans.dists(col("embedding"), m)
    df.select(col("vec_id"), col("embedding"),
      KMeans.nearest(dl).cast("bigint").as("cell"))
  }

  /** `df` (vec_id, embedding) with each vector's 2 nearest cells of `m`,
    * nearest first: the multi-probe dedup scope.
    */
  private def probeCells(df: DataFrame, m: KMeans.Model): DataFrame = {
    val dl = KMeans.dists(col("embedding"), m)
    df.select(col("vec_id"), col("embedding"),
      transform(nearestCells(dl, 2), p => p.getField("l").cast("bigint"))
        .as("cells"))
  }

  /** The `n` nearest cells of distance list `dl` as (d, l) structs,
    * nearest first. `sort_array` orders the structs by d, then l, so a
    * distance tie goes to the lower cell, the oracle's rule.
    */
  private def nearestCells(dl: Column, n: Int): Column =
    slice(sort_array(transform(dl,
      (d, l) => struct(d.as("d"), l.as("l")))), 1, n)

  /** The IVF probe panel: each row of `queries` (its `vec_id` becomes
    * `qid`) once per probed cell, its 4 nearest by `dl`, carrying the
    * column `carry` under `name`.
    */
  private def probePanel(queries: DataFrame, dl: Column, carry: Column,
                         name: String): DataFrame =
    queries.select(col("vec_id").as("qid"), carry,
        nearestCells(dl, 4).as("probes"))
      .select(col("qid"), col(name), explode(col("probes")).as("probe"))
      .select(col("qid"), col(name), col("probe.l").cast("int").as("cell"))

  /** Index rows (vec_id, cell, pq_code) of `df`: each vector's nearest
    * cell of `km` and its PQ code under `pq`.
    */
  private def indexRows(df: DataFrame, km: KMeans.Model,
                        pq: Pq.TrainedPq): DataFrame = {
    val dl = KMeans.dists(col("embedding"), km)
    df.select(col("vec_id"), KMeans.nearest(dl).cast("int").as("cell"),
      Pq.encodeWith(col("embedding"), pq.bc).getField("code").as("pq_code"))
  }

  /** ADC top-5 of the candidate rows `cands` (qid, vec_id, pq_code, lut).
    * The distance Σ_m lut[m*16 + code_m] adds left to right, m ascending,
    * the oracle's `list_sum(list(d ORDER BY m))` order; each query keeps
    * its 5 nearest, a distance tie going to the smaller vec_id. Adds
    * `adc` (unrounded) and `rn`.
    */
  private def adcTop5(cands: DataFrame): DataFrame = {
    val adc = (0 until Pq.M).map { m =>
      element_at(col("lut"),
        (lit(m * Pq.K + 1) + shiftright(col("pq_code"), 4 * m)
          .bitwiseAND(lit(15L))).cast("int"))
    }.reduce(_ + _)
    cands.withColumn("adc", adc)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
      .filter(col("rn") <= 5)
  }

  /** The top-5 queries' output: (qid, vec_id, rn, adc to 6 places). */
  private def top5Rows(top: DataFrame): DataFrame =
    top.select(col("qid"), col("vec_id"), col("rn").cast("long").as("rn"),
        round(col("adc"), 6).as("adc"))
      .orderBy(col("qid"), col("rn"))

  // Decode-derived SIGNATURE frames consumed by several plan branches are
  // [[Shared]] (r19): the banded pair join reads its input three times
  // (bucket pass + both exact-verify sides) and the CC node set a fourth,
  // and without sharing those are four separate instances of the decode
  // subtree, so the media decode runs four times per modality. Applied
  // per query where an interleaved ConfAb A/B measured a win.

  /** The pair capstones' export: pairs joined to their media's near-dup
    * cluster (`labels`: id, cluster_id), caption pools per canonical
    * (cluster-minimum) media id, landed through the curated sink in 4
    * shards and read back in canonical order. `release` frees the
    * caller's shared frames once the write is done.
    */
  private def captionPools(pairs: DataFrame, labels: DataFrame,
                           idCol: String, canonicalCol: String, out: String)
                          (release: => Unit): DataFrame = {
    val pools = pairs
      .join(labels.select(col("id").as(idCol), col("cluster_id")), Seq(idCol))
      .groupBy(col("cluster_id").as(canonicalCol))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("page_id")).as("n_pages"),
        min(col("caption")).as("first_caption"))
      .withColumn("shard", pmod(col(canonicalCol), lit(4L)).cast("int"))
    Layout.curatedRoundTrip(pools, out, "shard", Seq(canonicalCol))(release)
      .orderBy(col(canonicalCol))
  }

  /** Shared p30 parameters — the Scala query and the SQL oracle derive
    * nBits from these with the SAME integer arithmetic
    * ([[Similarity.deriveNBits]] ⇔ `length(printf('%b', q-1))`), so the
    * parameterization scales with the corpus while staying differentially
    * verified at any SF.
    */
  private[queries] object Queries {
    val KNN_TARGET_BUCKET = 32
    val KNN_MAX_BUCKET = 4096
    // Corpus-count memo: p30/p32 derive nBits from the embeddings count;
    // keeping it per (application, dir) keeps plan-only consumers
    // (PlanAudit, repeated bench constructions) from re-running the count
    // job on every query construction.
    def embCount(s: SparkSession, dir: String): Long =
      AppState.memo(s, "embCount", dir)(emb(s, dir).count())
  }

  /** Offset minting re-encoded-copy media ids next to their base corpus
    * (p75/p81): a single high bit rather than a decimal constant, so copy
    * ids are provably disjoint from any realistic doc_id range (a 100 TB
    * corpus is ~2^40 docs away) instead of colliding silently once
    * doc_id >= the old 100000.
    */
  private[queries] val CopyIdOffset = 1L << 40

  /** `base` media with a re-encoded copy of every 5th item planted next to
    * it under id + [[CopyIdOffset]]: the near-dup corpus of the image,
    * audio and video pair and survivor queries (p75/p81, p83/p84, p89/p90,
    * and p92's settled corpus).
    */
  private def withCopies(base: DataFrame)(
      reencode: DataFrame => DataFrame): DataFrame =
    base.unionByName(reencode(base.filter(col("media_id") % 5 === 0))
      .withColumn("media_id", col("media_id") + CopyIdOffset))

  /** Second disjoint id space: FRESH batch items (no corpus counterpart)
    * in the incremental-refresh fixtures (p88, p92 batch copies).
    */
  private[queries] val FreshIdOffset = 1L << 41

  /** Third disjoint id space (bits 40+41): p92's fresh batch items,
    * disjoint from base ids, corpus copies (2^40) AND batch copies
    * (2^41) at any corpus scale.
    */
  private[queries] val Fresh2IdOffset = 3L << 40

  /** Fourth disjoint id space (bit 42): p112's derived sub-clip ids
    * (the third chain level of the containment-survivor fixture).
    */
  private val SubIdOffset = 1L << 42

  /** Fifth disjoint id space (bit 43): p113's incremental-containment
    * batch ids (slices + copies).
    */
  private val BatchSeqIdOffset = 1L << 43

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- exact dedup: group summary on normalized fingerprint ----
    "p01_dedup_exact_groups" -> ((s, dir) => {
      Dedup.exactGroups(docs(s, dir), "doc_id", "text")
        .orderBy(col("fp"))
    }),

    // ---- exact dedup: surviving rows (keep lowest id per fingerprint) ----
    "p02_dedup_exact_rows" -> ((s, dir) => {
      Dedup.exact(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- text statistics: token counts (whitespace + BPE-ish), lengths ----
    "p03_text_stats" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        length(TF.normText(col("text"))).as("n_chars_norm"),
        TF.tokenCount(col("text")).as("n_tokens"),
        TF.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        round(TF.meanTokenLen(col("text")), 6).as("mean_token_len"))
        .orderBy(col("doc_id"))
    }),

    // ---- heuristic quality scoring ----
    "p04_quality_score" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        TF.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // ---- rule-based language ID + distribution ----
    "p05_lang_id" -> ((s, dir) => {
      docs(s, dir)
        .select(TF.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred"))
    }),

    // ---- multimodal binary plumbing: byte length + content hash ----
    "p06_multimodal_bytes" -> ((s, dir) => {
      Multimodal.fromDocuments(docs(s, dir))
        .select(col("media_id"), col("modality"),
          length(col("data")).as("byte_len"),
          md5(col("data")).as("content_md5"),
          col("meta.format").as("format"))
        .orderBy(col("media_id"))
    }),

    // ---- n-gram jaccard near-dup pairs (exact, bounded subset) ----
    "p07_jaccard_pairs" -> ((s, dir) => {
      Dedup.jaccardPairs(
        docs(s, dir).filter(col("doc_id") < 100), "doc_id", "text",
        minJaccard = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- MinHash+LSH near-dup pairs, exact-jaccard verified. The LSH
    // candidates (slim band join) are re-scored with exact shingle jaccard,
    // so the output equals DuckDB's all-pairs answer while the Spark plan
    // stays O(docs × bands). ----
    "p08_minhash_pairs" -> ((s, dir) => {
      Dedup.nearDupPairs(docs(s, dir), "doc_id", "text",
        shingleLen = 5, threshold = 0.5, k = 64, r = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- SimHash semantic property over an oracle-derivable pair list:
    // docs with shingle-jaccard ≥ 0.5 must have simhash hamming ≤ 16
    // (64-bit sigs; near-dup docs share token distributions). The pair
    // list itself is exact, so DuckDB derives every output column. ----
    "p09_simhash_sigs" -> ((s, dir) => {
      // docsFanned KEPT (r19, re-adjudicated with data): the r18 verdict
      // flagged this call as an unrestored fan-out loser (driver 0.80×,
      // builder detail 1.48× slower) and r19 duly applied the revert —
      // then re-measured it with the drift-immune interleaved ConfAb in
      // a quiet window: fanned A=1.62 s vs raw B=1.76 s at 32 cores
      // (B/A 1.09, 5 reps) and A=1.39 vs B=1.75 at 8 cores (B/A 1.26).
      // Clean-window cross-run benches agree (fanned 1.09 s vs raw
      // 1.30 s). Both r18 readings were window contamination; the
      // shingle pass under nearDupPairs dominates p09 and parallelizes,
      // so this is a heavy-single-pass shape after all.
      val pairs = Dedup.nearDupPairs(docsFanned(s, dir), "doc_id", "text",
        shingleLen = 5, threshold = 0.5, k = 64, r = 2)
      val sigs = Dedup.simhashSignatures(docs(s, dir), "doc_id", "text")
      pairs
        .join(sigs.select(col("id").as("id_a"), col("simhash").as("sh_a")), Seq("id_a"))
        .join(sigs.select(col("id").as("id_b"), col("simhash").as("sh_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("jaccard"),
          (bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 16).as("hamming_le_16"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- brute-force cosine top-k (exact ANN baseline) ----
    "p10_embedding_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.bruteForceTopK(e, q, k = 10)
        .orderBy(col("query_id"), col("rk"))
    }),

    // ---- LSH bucket histogram invariants (the ANN scale path): the
    // histogram is computed (groupBy bucket), then checked — every vector
    // lands in exactly one bucket and every bucket id is in [0, 2^nBits). ----
    "p11_embedding_lsh_buckets" -> ((s, dir) => {
      Similarity.bucketed(emb(s, dir), nBits = 8)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
        .agg(
          sum(col("n")).as("n_vecs"),
          sum(when(col("bucket") >= 0 && col("bucket") < 256, col("n"))
            .otherwise(lit(0L))).as("n_in_range"))
    }),

    // ---- ANN top-k via multi-probe LSH bucket join. Axis-aligned
    // hyperplanes (bit b = sign of coordinate b) keep the bucketing
    // SQL-derivable, so the oracle reproduces the exact candidate set and
    // the APPROXIMATE answer is differentially verified end-to-end ----
    "p12_ann_lsh_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.axisLshTopK(e, q, k = 10, nBits = 6, probeHamming = 1)
        .orderBy(col("query_id"), col("rk"))
    }),

    // ---- embedding-cosine near-dup pairs, exact over a bounded slice
    // (the LSH-bucketed scale path is cosineNearDupPairs, property-tested
    // in SimilaritySpec; this exact variant is the oracle anchor) ----
    "p13_embedding_near_pairs" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") < 200)
      Similarity.exactNearPairs(e, minCos = 0.3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- winnowing fingerprints (rolling-hash document fingerprinting,
    // Schleimer et al. SIGMOD'03): near-dup pairs must share >= half their
    // winnowed fingerprint sets — same oracle-derivable pair-list pattern
    // as p09 (measured overlap on this corpus: 0.87-1.0). ----
    "p15_winnow_fingerprints" -> ((s, dir) => {
      // The pair list is shared (output is |pairs| rows — tiny next to
      // the corpus): it feeds three consumers
      // below, and without materialization each re-evaluates the whole
      // minhash band-shuffle + verify DAG (driver benches measured 5-8 s
      // of pure recompute at sf0.1 for three rounds). Winnow fingerprints
      // are then computed only for docs that appear in some pair (semi-
      // join), not the full corpus, and that small frame is materialized
      // too so the a-side and b-side joins share one evaluation — at
      // 100 TB this is the floor: one corpus pass for pair generation,
      // one corpus scan for the semi-join, winnowing |pair-docs| texts.
      val pairs = Shared(Dedup.nearDupPairs(docsFanned(s, dir), "doc_id",
        "text", shingleLen = 5, threshold = 0.5))
      val ids = pairs.select(explode(array(col("id_a"), col("id_b")))
        .as("doc_id")).distinct()
      val wf = Shared(docs(s, dir).join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          HashExpressions.winnowFingerprints(col("text"), 5, 4).as("wf")))
      pairs
        .join(wf.select(col("doc_id").as("id_a"), col("wf").as("wf_a")), Seq("id_a"))
        .join(wf.select(col("doc_id").as("id_b"), col("wf").as("wf_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("jaccard"),
          ((size(array_intersect(col("wf_a"), col("wf_b"))).cast("double") /
            size(array_union(col("wf_a"), col("wf_b")))) >= 0.5)
            .as("winnow_overlap_ge_half"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- multimodal frame sampling: fixed-stride slices of the binary
    // payload (the demux stand-in); frame counts and byte mass are exactly
    // derivable from payload length, so the plumbing is oracle-gated. ----
    "p16_frame_sampling" -> ((s, dir) => {
      Multimodal.sampleFrames(
        Multimodal.fromDocuments(docs(s, dir)), frameBytes = 100, everyN = 2)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
             sum(length(col("frame"))).as("total_frame_bytes"))
        .orderBy(col("media_id"))
    }),

    // ---- group-level sketch via custom typed Aggregator: per-source
    // MinHashUnion signature (map-side partial agg, order-independent
    // elementwise-min merge); pairwise estimate must track the exact
    // token-set jaccard within 0.1 (k=256 => ~9 sigma at this corpus's
    // jaccard range — deterministic, measured 0.97-1.0). ----
    "p17_source_similarity" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.Sketches
      val d = docs(s, dir)
      val toks = d.select(col("source"), TF.tokens(col("text")).as("toks"))
        .as[(String, Seq[String])]
      val sigs = toks.groupByKey(_._1).mapValues(_._2)
        .agg(Sketches.MinHashUnion(256).toColumn.name("sig"))
        .toDF("source", "sig")
      val sets = d.select(col("source"), explode(TF.tokens(col("text"))).as("tok"))
        .groupBy(col("source")).agg(collect_set(col("tok")).as("ts"))
      val a = sigs.join(sets, "source")
        .select(col("source").as("src_a"), col("sig").as("sig_a"), col("ts").as("ts_a"))
      val b = sigs.join(sets, "source")
        .select(col("source").as("src_b"), col("sig").as("sig_b"), col("ts").as("ts_b"))
      a.join(b, col("src_a") < col("src_b"))
        .withColumn("exact_jaccard",
          round(size(array_intersect(col("ts_a"), col("ts_b"))).cast("double") /
            size(array_union(col("ts_a"), col("ts_b"))), 6))
        .withColumn("est",
          size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
            m => m)).cast("double") / 256)
        .select(col("src_a"), col("src_b"), col("exact_jaccard"),
          (abs(col("est") - col("exact_jaccard")) <= 0.1).as("est_close"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // ---- duplicate clusters: connected components over the near-dup
    // graph (star contraction behind the driver finisher); the oracle
    // recomputes components from the exact pair list with a recursive
    // CTE. ----
    "p18_dup_clusters" -> ((s, dir) => {
      Dedup.dupClusters(docs(s, dir), "doc_id", "text",
        shingleLen = 5, threshold = 0.5)
        .orderBy(col("doc_id"))
    }),

    // ---- end-to-end near-dup dedup: corpus minus docs that near-dup a
    // lower id (greedy keep-lowest). Oracle derives the same survivor set
    // from the exact all-pairs jaccard. ----
    "p14_minhash_dedup_survivors" -> ((s, dir) => {
      Dedup.minhashDedup(docs(s, dir), "doc_id", "text",
        shingleLen = 5, threshold = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- deterministic 25% sample: membership is a pure hash of the id,
    // so the oracle recomputes the identical row set ----
    "p19_deterministic_sample" -> ((s, dir) => {
      Sampling.deterministicSample(docs(s, dir), "doc_id", 0.25)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ---- training-mix construction: per-source keep fractions via the
    // same deterministic hash; unlisted sources drop out ----
    "p20_source_mixing" -> ((s, dir) => {
      Sampling.mixSources(docs(s, dir), "source", "doc_id", Map(
        "src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5,
        "src3" -> 0.25, "src4" -> 0.1, "src5" -> 0.05))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ---- shard packing by char budget: distributed two-phase prefix sum
    // (range partition + per-partition scan + P-row driver offsets);
    // oracle recomputes the same shards with a window cumsum ----
    "p21_shard_packing" -> ((s, dir) => {
      Sampling.packByBudget(docs(s, dir), "doc_id", "n_chars", budget = 10000L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("shard"))
    }),

    // ---- token-window chunking (context-window prep): 40-token chunks,
    // 10-token overlap; chunk text emitted so equality is exact ----
    "p22_doc_chunking" -> ((s, dir) => {
      TextOps.chunkByTokens(docs(s, dir), "doc_id", "text",
        chunkTokens = 40, overlap = 10)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // ---- BM25 keyword retrieval: corpus stats folded into a narrow
    // scoring pass + TopK; the oracle recomputes the identical formula ----
    "p23_bm25_search" -> ((s, dir) => {
      TextOps.bm25TopK(docs(s, dir), "doc_id", "text",
        queryTokens = Seq("spark", "join", "window"), k = 20)
        .select(col("id").as("doc_id"), col("score"), col("rk"))
        .orderBy(col("rk"))
    }),

    // ---- PII scrubbing: the corpus carries no PII, so the query PLANTS
    // synthetic email/phone/SSN/IP deterministically from doc_id (both
    // engines derive the identical enriched text), then counts and
    // redacts — the scrub pass is verified end-to-end ----
    "p24_pii_redaction" -> ((s, dir) => {
      val enriched = concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or call 555-"),
        lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
        lit("-"),
        lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0"),
        lit(" ssn 123-45-6789 ip 10.0.0."),
        pmod(col("doc_id"), lit(256)).cast("string"))
      docs(s, dir).select(
        col("doc_id"),
        TextOps.piiCount(enriched, "email").as("n_emails"),
        TextOps.piiCount(enriched, "phone").as("n_phones"),
        TextOps.piiCount(enriched, "ssn").as("n_ssn"),
        TextOps.piiCount(enriched, "ipv4").as("n_ip"),
        TextOps.redactPii(enriched).as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // ---- repetition quality signal (Gopher/C4 rule): max token and
    // bigram share per doc; two corpus-scalable aggregations ----
    "p25_repetition_stats" -> ((s, dir) => {
      TextOps.repetitionStats(docs(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"),
          col("max_token_share"), col("max_bigram_share"))
        .orderBy(col("doc_id"))
    }),

    // ---- per-source top-5 vocabulary (WindowGroupLimit rank pushdown:
    // partial top-k per partition before the shuffle) ----
    "p28_top_tokens" -> ((s, dir) => {
      TextOps.topTokensPerGroup(docs(s, dir), "source", "text", k = 5)
        .orderBy(col("grp"), col("rk"))
    }),

    // ---- nearest-prototype confusion: per-label decimal-exact centroids,
    // every vector assigned to its closest centroid (squared L2), counts
    // per (true, assigned) — embedding-space label quality diagnostic ----
    "p27_centroid_confusion" -> ((s, dir) => {
      Similarity.centroidConfusion(emb(s, dir))
        .orderBy(col("label"), col("assigned_label"))
    }),

    // ---- int8 scalar quantization (the 4× vector-store shrink): per-row
    // narrow higher-order-function algebra, no UDFs; worst reconstruction
    // error and code stats verified exactly by the oracle ----
    "p29_embedding_quantize" -> ((s, dir) => {
      Quantize.int8Stats(emb(s, dir))
        .orderBy(col("vec_id"))
    }),

    // ---- corpus-wide kNN graph via multi-probe axis-sign LSH self-join
    // (semantic-dedup/clustering substrate). nBits derives from the corpus
    // COUNT (integer bit-width arithmetic, so the oracle recomputes it
    // exactly): expected bucket ≈ KNN_TARGET_BUCKET keeps the self-join
    // linear in N instead of quadratic-at-fixed-nBits; oversized buckets
    // are dropped by the same cap contract as minhashCandidates. Axis
    // buckets keep even the APPROXIMATE graph SQL-recomputable — the
    // oracle derives nBits, buckets, cap, candidates, and top-k,
    // bit-for-bit (p12's pattern, self-join form) ----
    "p30_knn_graph" -> ((s, dir) => {
      val e = emb(s, dir)
      val nBits = Similarity.deriveNBits(Queries.embCount(s, dir), Queries.KNN_TARGET_BUCKET)
      Similarity.axisKnnGraph(e, k = 5, nBits = nBits, probeHamming = 1,
        maxBucketSize = Queries.KNN_MAX_BUCKET)
        .orderBy(col("vec_id"), col("rk"))
    }),

    // ---- Unicode NFC normalization (codegen'd custom expression — Spark
    // has no built-in): the corpus is ASCII, so decomposed sequences are
    // PLANTED (e + U+0301, i + U+0308) and must compose; char counts
    // before/after pin the contraction ----
    "p31_unicode_normalize" -> ((s, dir) => {
      // Decomposed on purpose: 'e' + U+0301, 'i' + U+0308 — NFC must
      // contract them to the precomposed forms.
      val enriched = concat(col("text"), lit(" cafe\u0301 nai\u0308ve"))
      docs(s, dir).select(col("doc_id"),
        HashExpressions.nfcNormalize(enriched).as("normalized"),
        length(enriched).as("n_before"),
        length(HashExpressions.nfcNormalize(enriched)).as("n_after"))
        .orderBy(col("doc_id"))
    }),

    // ---- semantic dedup clusters: connected components over the
    // embedding near-dup graph (axis-sign LSH pairs -> generic connected
    // components: star contraction behind the driver finisher). The
    // approximate pair graph is SQL-recomputable, so the oracle re-derives
    // buckets, probes, cosines AND the components (recursive CTE) — the
    // whole embedding-dedup path verified end-to-end ----
    "p32_semantic_clusters" -> ((s, dir) => {
      val e = emb(s, dir)
      val nBits = Similarity.deriveNBits(Queries.embCount(s, dir), Queries.KNN_TARGET_BUCKET)
      val pairs = Similarity.axisNearPairs(e, minCos = 0.5, nBits = nBits,
        probeHamming = 1, maxBucketSize = Queries.KNN_MAX_BUCKET)
      Dedup.connectedComponents(e.select(col("vec_id").as("id")), pairs)
        .select(col("id").as("vec_id"), col("cluster_id"))
        .orderBy(col("vec_id"))
    }),

    // ---- stratified train/val/test carve-out: split membership is a pure
    // hash of the id (no RNG, stable under corpus growth — no test-set
    // leakage across dataset versions); per-(source, split) counts ----
    "p33_stratified_split" -> ((s, dir) => {
      Sampling.assignSplits(docs(s, dir), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("source"), col("split"))
    }),

    // ---- cross-document passage dedup: fixed token windows, first
    // occurrence (by doc, chunk position) survives; per-doc dup share ----
    "p34_passage_dedup" -> ((s, dir) => {
      TextOps.passageDedup(docs(s, dir), "doc_id", "text", chunkTokens = 20)
        .orderBy(col("doc_id"))
    }),

    // ---- single-pass exact column profile (ANALYZE-style ingest stats) ----
    "p35_column_profile" -> ((s, dir) => {
      Profile.profile(docs(s, dir), Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy(col("col_name"))
    }),

    // ---- incremental near-dedup: a new batch (doc_id % 10 >= 8) checked
    // against the already-deduplicated corpus (doc_id % 10 < 8) — only
    // batch×corpus candidates are generated (band equi-join across sides,
    // corpus-side bucket cap), never corpus×corpus. Exact-jaccard verified,
    // so the oracle is the all-pairs cross-side answer, like p08. ----
    "p37_incremental_neardup" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.incrementalNearDupPairs(
        d.filter(col("doc_id") % 10 < 8),
        d.filter(col("doc_id") % 10 >= 8),
        "doc_id", "text", shingleLen = 5, threshold = 0.5)
        .orderBy(col("corpus_id"), col("batch_id"))
    }),

    // ---- sequential ingest semantics (a two-batch corpus build, as a
    // streaming ingest would run it batch by batch): batch 0 = even doc_ids greedily
    // deduplicated within itself (drop any doc near-dupping a lower even
    // id), batch 1 = odd doc_ids internally deduplicated the same way,
    // then admitted only if they near-dup nothing in batch 0's survivors.
    // The oracle re-derives both greedy rules and the admission filter
    // with correlated NOT EXISTS over exact jaccard. ----
    "p40_sequential_ingest" -> ((s, dir) => {
      val d = docs(s, dir)
      val b0 = Dedup.minhashDedup(
        d.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      val b1 = Dedup.incrementalAdmit(
        b0,
        Dedup.minhashDedup(d.filter(col("doc_id") % 2 === 1), "doc_id", "text"),
        "doc_id", "text")
      b0.select(col("doc_id"), lit(0).as("batch"))
        .unionByName(b1.select(col("doc_id"), lit(1).as("batch")))
        .orderBy(col("doc_id"))
    }),

    // ---- star-contraction connected components on a planted 200-node
    // chain (successor-id edges): diameter 199, so this exercises the
    // O(log²)-round large-star/small-star path under full differential
    // verification (the oracle re-derives components by recursive
    // reachability, like p32). The driver finisher is off (localEdges = 0)
    // so the distributed rounds themselves stay oracle-gated; every other
    // caller gets star contraction behind the driver finisher. ----
    "p38_star_components" -> ((s, dir) => {
      val n = docs(s, dir).select(col("doc_id").as("id"))
        .filter(col("id") < 200)
      val pairs = n.select(col("id").as("id_a"))
        .join(n.select(col("id").as("id_b")), col("id_b") === col("id_a") + 1)
      Dedup.connectedComponents(n, pairs, localEdges = 0)
        .orderBy(col("id"))
    }),

    // ---- leakage-free splits: split membership hashes the near-dup
    // CLUSTER id, so near-duplicate documents can never straddle
    // train/test (the id-hash split p33 uses would leak paraphrases of
    // training data into eval). Oracle re-derives the clusters by exact
    // jaccard + recursive reachability (p18's CTE) and applies the same
    // split hash to the cluster label. ----
    "p39_leakage_free_splits" -> ((s, dir) => {
      Dedup.leakageFreeSplits(docs(s, dir), "doc_id", "text",
        splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("cluster_id")).as("n_clusters"))
        .orderBy(col("split"))
    }),

    // ---- per-doc top-k TF-IDF terms (lexical topic profile) ----
    "p36_tfidf_topterms" -> ((s, dir) => {
      TextOps.tfIdfTopTerms(docs(s, dir), "doc_id", "text", k = 5)
        .select(col("id").as("doc_id"), col("term"), col("tf"),
          col("tfidf"), col("rk"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // ---- benchmark decontamination: every 10th doc is the held-out
    // "benchmark" set (scale-relative split), the rest is the training
    // corpus; train docs containing >= half of a benchmark doc's 5-gram
    // set are flagged via one shingle-keyed join ----
    "p26_decontamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.contaminationPairs(
        d.filter(pmod(col("doc_id"), lit(10)) =!= 9),
        d.filter(pmod(col("doc_id"), lit(10)) === 9),
        "doc_id", "text", shingleLen = 5, minContainment = 0.5)
        .orderBy(col("cid"), col("bid"))
    }),

    // ---- bigram-LM perplexity scoring (CCNet-style quality filter with
    // the corpus itself as the LM training set) ----
    "p41_ngram_perplexity" -> ((s, dir) => {
      TextOps.ngramPerplexity(docs(s, dir), "doc_id", "text", alpha = 0.5)
        .orderBy(col("id"))
    }),

    // ---- exact-substring duplication signal (Lee et al. 2022): per doc,
    // the fraction of its distinct 8-token windows that also occur in
    // another document ----
    "p42_dup_span_coverage" -> ((s, dir) => {
      Dedup.dupSpanCoverage(docs(s, dir), "doc_id", "text", windowLen = 8)
        .orderBy(col("id"))
    }),

    // ---- per-source quota cap: deterministic "at most 10 docs per
    // domain" crawl-curation rule ----
    "p43_source_quota_cap" -> ((s, dir) => {
      Sampling.capPerGroup(docs(s, dir), "source", "doc_id", k = 10)
        .select(col("doc_id"), col("source"), col("rk"))
        .orderBy(col("doc_id"))
    }),

    // ---- temperature mixture sampling (XLM-R/mC4 n^alpha reweighting;
    // alpha=0.5 so the oracle's sqrt is IEEE-exact in both engines) ----
    "p44_temperature_mixture" -> ((s, dir) => {
      Sampling.temperatureMixture(docs(s, dir), "source", "doc_id",
        budget = 200L, alpha = 0.5)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ---- exact-substring span cutting (Lee et al. 2022): duplicated
    // 8-token spans removed everywhere but their first-occurrence doc ----
    "p45_span_cut" -> ((s, dir) => {
      Dedup.cutDuplicateSpans(docsFanned(s, dir), "doc_id", "text", windowLen = 8)
        // Always-true guard that CONSUMES clean_text: without it a bare
        // count() (Bench) lets Catalyst eliminate the outer joins carrying
        // the cut, timing an empty plan. No effect on the result set.
        .where(length(col("clean_text")) >= 0)
        .orderBy(col("id"))
    }),

    // ---- curation funnel report: cumulative survivor counts of the
    // standard quality-filter cascade (length -> lang -> quality ->
    // repetition), one row per stage ----
    "p46_filter_funnel" -> ((s, dir) => {
      TextOps.filterFunnel(docs(s, dir), "doc_id", "text",
        minTokens = 10, minQuality = 0.5, maxTokenShare = 0.2)
        .orderBy(col("stage_idx"))
    }),

    // ---- DSIR importance weights: bigram log-likelihood ratio between
    // the lang='en' target slice and the raw corpus (Xie et al. 2023) ----
    "p47_dsir_weights" -> ((s, dir) => {
      // Hash surface is integer-only (llr_micro = exact decimal LLR sum
      // ×10^6): the derived double mean is engine/version-fragile under
      // round() and lives on the operator, not the comparison surface.
      TextOps.importanceWeights(docsFanned(s, dir), "doc_id", "text",
        isTarget = col("lang") === "en", alpha = 0.5)
        .select(col("id"), col("n_bigrams"), col("llr_micro"))
        .orderBy(col("id"))
    }),

    // ---- quality-aware canonical selection: per near-dup cluster keep
    // the highest-quality member, not the arbitrary lowest id ----
    "p48_best_of_cluster" -> ((s, dir) => {
      Dedup.bestOfCluster(docs(s, dir), "doc_id", "text",
        TF.qualityScore(col("text")), shingleLen = 5, threshold = 0.5)
        .orderBy(col("cluster_id"))
    }),

    // ---- bloom-prefiltered decontamination: identical result to the
    // exact join (the bloom only prunes; survivors are exactly verified),
    // at a lower containment threshold than p26 so both paths and both
    // thresholds are covered ----
    "p49_bloom_decontamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.contaminationPairsBloom(
        d.filter(pmod(col("doc_id"), lit(10)) =!= 9),
        d.filter(pmod(col("doc_id"), lit(10)) === 9),
        "doc_id", "text", shingleLen = 5, minContainment = 0.3)
        .orderBy(col("cid"), col("bid"))
    }),

    // ---- deterministic global shuffle: reproducible training order as a
    // pure function of (data, seed); distributed two-phase prefix sum, no
    // single-partition window ----
    "p50_deterministic_shuffle" -> ((s, dir) => {
      Sampling.deterministicShuffle(docs(s, dir), "doc_id", seed = 12345L)
        .select(col("doc_id"), col("shuffle_pos"))
        .orderBy(col("doc_id"))
    }),

    // ---- content-defined chunking + chunk-level cross-doc dedup signal:
    // shift-robust boundaries (FastCDC family), per-doc duplicated-chunk
    // fraction ----
    "p51_cdc_chunks" -> ((s, dir) => {
      val ch = TextOps.cdcChunks(docs(s, dir), "doc_id", "text",
          avgChunkTokens = 16)
        .withColumn("fp", md5(col("chunk")))
      val dup = ch.groupBy(col("fp"))
        .agg(min(col("id")).as("__mn"), max(col("id")).as("__mx"))
        .filter(col("__mn") < col("__mx"))
        .select(col("fp"), lit(1L).as("__d"))
      ch.join(dup, Seq("fp"), "left_outer")
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_chunks"),
             sum(when(col("__d").isNotNull, 1L).otherwise(0L)).as("n_dup_chunks"))
        .withColumn("dup_frac",
          round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6))
        .orderBy(col("id"))
    }),

    // ---- token-budget temperature mixture: source sizes measured in
    // chars (the training-budget unit), not documents ----
    "p52_token_temperature" -> ((s, dir) => {
      Sampling.temperatureMixtureWeighted(docs(s, dir), "source", "doc_id",
        "n_chars", budget = 20000L, alpha = 0.5)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ---- join-key skew report: top heavy hitters of a shuffle key with
    // share and skew factor — the pre-flight check for partitioning ----
    "p53_skew_report" -> ((s, dir) => {
      Profile.skewReport(Tables.load(s, dir, "lineitem"), "l_partkey", k = 10)
        .orderBy(col("n").desc, col("key"))
    }),

    // ---- JL sign projection: 64 -> 16 dims via a hash-derived ±1 matrix
    // (no driver state, any engine regenerates the matrix); exploded to
    // scalar rows for the exact oracle compare ----
    "p54_sign_projection" -> ((s, dir) => {
      emb(s, dir).select(col("vec_id"),
          posexplode(graft.functions.VectorExpressions.signProjectF(
            col("embedding"), 16, 42L)).as(Seq("dim", "__v")))
        .select(col("vec_id"), col("dim"), round(col("__v"), 6).as("v"))
        .orderBy(col("vec_id"), col("dim"))
    }),

    // ---- corpus snapshot diff: synthetic old/new snapshots carved from
    // the documents table (old = id%7!=0 as-is; new = id%5!=0 with every
    // id%3==0 doc edited) -> per-id added/removed/changed/unchanged ----
    "p55_corpus_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      val oldSnap = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      val newSnap = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Dedup.corpusDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy(col("id"))
    }),

    // ---- per-source length percentile: robust per-source outlier flags
    // (a global length threshold would gut whichever source skews short) ----
    "p56_source_percentile" -> ((s, dir) => {
      Profile.percentRankWithin(docs(s, dir), "source", "n_chars")
        .select(col("doc_id"), col("source"), col("n_chars"), col("pct"),
          (col("pct") < 0.05 || col("pct") > 0.99).as("is_outlier"))
        .orderBy(col("doc_id"))
    }),

    // ---- end-to-end curation pipeline: quality filter -> exact dedup ->
    // per-source quota cap -> deterministic training-order shuffle, each
    // stage a proven operator, the WHOLE chain under one oracle ----
    "p57_curation_pipeline" -> ((s, dir) => {
      val filtered = docs(s, dir).filter(
        TF.tokenCount(col("text")) >= 10 &&
          TF.langId(col("text")) =!= "unknown" &&
          TF.qualityScore(col("text")) >= 0.5)
      val deduped = Dedup.exact(filtered, "doc_id", "text")
      val capped = Sampling.capPerGroup(deduped, "source", "doc_id", k = 50)
      Sampling.deterministicShuffle(capped, "doc_id", seed = 99L)
        .select(col("doc_id"), col("source"), col("shuffle_pos"))
        .orderBy(col("doc_id"))
    }),

    // ---- REAL image decode: planted PNGs (genuine ImageIO-encoded
    // streams, pixels closed-form in media_id) decoded back with
    // javax.imageio; the oracle recomputes width/height/channels/pixel-sum
    // from the planted rule without owning a codec. `decoded` pins that
    // the codec path (not the stub fallback) produced every row. ----
    "p58_image_decode" -> ((s, dir) => {
      Multimodal.decodeImageFeatures(Multimodal.plantPngs(docs(s, dir)))
        .select(col("media_id"), col("width"), col("height"),
          col("n_channels"), col("pixel_sum"), col("decoded"))
        .orderBy(col("media_id"))
    }),

    // ---- REAL image resize: decode -> 2x2 box-filter pool (integer-floor
    // mean) -> PNG re-encode -> decode again. The oracle recomputes every
    // pooled pixel from the planted rule, so the whole
    // encode->decode->resample->re-encode->decode chain is value-checked. ----
    "p59_image_resize" -> ((s, dir) => {
      Multimodal.decodeImageFeatures(
        Multimodal.resizePooled(Multimodal.plantPngs(docs(s, dir)), 2))
        .select(col("media_id"), col("width"), col("height"),
          col("pixel_sum"), col("decoded"))
        .orderBy(col("media_id"))
    }),

    // ---- REAL audio decode: planted WAVs (genuine javax.sound RIFF/fmt/
    // data streams, samples closed-form in media_id) decoded back with
    // AudioSystem; the oracle recomputes sample-rate/frame-count/amplitude
    // sum from the planted rule without owning a codec. `decoded` pins the
    // codec path produced every row. ----
    "p60_audio_decode" -> ((s, dir) => {
      Multimodal.decodeAudioFeatures(Multimodal.plantWavs(docs(s, dir)))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_frames"), col("amp_sum"), col("decoded"))
        .orderBy(col("media_id"))
    }),

    // ---- mixed-modality curation funnel: the realistic multimodal-corpus
    // shape now that both codecs are real. One corpus split three ways
    // (planted PNGs / planted WAVs / raw text bytes), each modality's
    // feature extracted through its OWN real decode path (ImageIO pixel
    // sum, javax.sound amplitude sum, UTF-8 byte length), then a shared
    // quality gate + metadata-fingerprint dedup — decode stats never
    // shuffle payloads, only (id, modality, feature). The oracle recomputes
    // every feature closed-form, so a silent codec regression in EITHER
    // decoder breaks this row. ----
    "p61_multimodal_funnel" -> ((s, dir) => {
      val d = docs(s, dir)
      val img = Multimodal.decodeImageFeatures(
          Multimodal.plantPngs(d.filter(col("doc_id") % 3 === 0)))
        .select(col("media_id"), lit("image").as("modality"),
          col("pixel_sum").as("feature"))
      val aud = Multimodal.decodeAudioFeatures(
          Multimodal.plantWavs(d.filter(col("doc_id") % 3 === 1)))
        .select(col("media_id"), lit("audio").as("modality"),
          col("amp_sum").as("feature"))
      val txt = d.filter(col("doc_id") % 3 === 2)
        .select(col("doc_id").as("media_id"), lit("text").as("modality"),
          length(encode(col("text"), "UTF-8")).cast("long").as("feature"))
      img.unionByName(aud).unionByName(txt)
        .withColumn("passed", col("feature") % 10 < 8)
        .withColumn("fingerprint", col("feature") % 97)
        .groupBy(col("modality"))
        .agg(count(lit(1)).as("n_in"),
          sum(when(col("passed"), 1L).otherwise(0L)).as("n_pass"),
          countDistinct(when(col("passed"), col("fingerprint"))).as("n_unique"))
        .orderBy(col("modality"))
    }),

    // ---- REAL video frame sampling: planted multi-frame GIFs (genuine
    // GIF89a streams from the JDK's sequence-capable writer, frame pixels
    // closed-form in media_id) demuxed + decoded back with the JDK's GIF
    // reader, every 2nd frame. The oracle recomputes frame indices,
    // counts, dimensions AND per-frame pixel sums from the planted rule —
    // a full differential check through a real multi-frame codec. ----
    "p62_video_frames" -> ((s, dir) => {
      Multimodal.sampleVideoFrames(Multimodal.plantGifs(docs(s, dir)), 2)
        .select(col("media_id"), col("frame_idx"), col("n_frames"),
          col("width"), col("height"), col("pixel_sum"), col("decoded"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // ---- REAL video resize: every frame 2x2 box-filter pooled
    // (integer-floor mean, same arithmetic as p59's image path) and the
    // pooled sequence RE-ENCODED as an animated GIF, then decoded back —
    // the oracle recomputes each pooled frame's pixel sum from the
    // planted rule, value-checking decode -> per-frame resample ->
    // sequence re-encode -> decode. ----
    "p63_video_resize" -> ((s, dir) => {
      Multimodal.sampleVideoFrames(
          Multimodal.resizeVideoPooled(Multimodal.plantGifs(docs(s, dir)), 2), 1)
        .select(col("media_id"), col("frame_idx"), col("n_frames"),
          col("width"), col("height"), col("pixel_sum"), col("decoded"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // ---- REAL temporal video feature: per consecutive frame pair, the
    // summed absolute pixel delta (motion / scene-cut proxy). Planted
    // frames differ by a constant per-pixel phase shift, so the oracle
    // recomputes every delta closed-form. ----
    "p64_video_motion" -> ((s, dir) => {
      Multimodal.videoMotionFeatures(Multimodal.plantGifs(docs(s, dir)))
        .select(col("media_id"), col("frame_idx"), col("n_frames"),
          col("motion_sum"), col("decoded"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // ---- REAL audio resample: planted WAVs decimated 2x (output sample =
    // integer-floor mean of each input pair — the 1-D analog of the p59/
    // p63 box filter), re-encoded as WAV at half the rate, decoded back.
    // The oracle recomputes every output sample closed-form. ----
    "p65_audio_resample" -> ((s, dir) => {
      Multimodal.decodeAudioFeatures(
          Multimodal.resampleAudioDecimated(Multimodal.plantWavs(docs(s, dir)), 2))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_frames"), col("amp_sum"), col("decoded"))
        .orderBy(col("media_id"))
    }),

    // ---- REAL 16-bit signed LE audio decode: plantWavs16 plants the
    // format real corpora actually carry (PCM_SIGNED 16-bit
    // little-endian, mono/stereo mix, per-id rates), decoded back with
    // javax.sound. amp_sum is decodeAudioFeatures' unsigned sum of the
    // raw PCM BYTES — both bytes of every little-endian sample, all
    // channels interleaved — which the oracle recomputes from the planted
    // SIGNED sample rule via two's-complement byte decomposition
    // ((v+65536)%65536 = low 16 bits, then low byte + high byte), so a
    // sign or endianness error anywhere in the plant/encode/decode chain
    // breaks this row. ----
    "p66_audio16_decode" -> ((s, dir) =>
      Multimodal.decodeAudioFeatures(Multimodal.plantWavs16(docs(s, dir)))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_frames"), col("amp_sum"), col("decoded"))
        .orderBy(col("media_id"))),

    // ---- REAL 16-bit audio resample: the is16 decimation branch — per
    // CHANNEL, output frame j = truncated mean (Java `/`, toward zero;
    // DuckDB `//` matches) of input frames [2j, 2j+2), trailing partial
    // block dropped — re-encoded as 16-bit LE WAV at half the rate and
    // decoded back. The oracle recomputes every signed per-channel
    // decimated sample closed-form and byte-decomposes it, so the whole
    // signed 16-bit decode → per-channel decimate → re-encode → decode
    // chain is value-checked. ----
    "p67_audio16_resample" -> ((s, dir) => {
      Multimodal.decodeAudioFeatures(
          Multimodal.resampleAudioDecimated(Multimodal.plantWavs16(docs(s, dir)), 2))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_frames"), col("amp_sum"), col("decoded"))
        .orderBy(col("media_id"))
    }),

    // ---- ISO-BMFF (MP4) box-walk metadata: planted minimal-but-well-
    // formed ftyp+moov[mvhd,trak*/mdia/minf/stbl/stsd] streams (mvhd
    // version 0 for even ids, version 1 with 64-bit fields for odd —
    // both layouts exercised) parsed back by the generic box walker.
    // Pure container structure, no codec — the pre-decode pruning filter
    // a real video pipeline runs at 100 TB. The oracle recomputes
    // duration_ms (incl. the timescale division), track count and the
    // per-track codec fourccs closed-form. ----
    "p68_mp4_meta" -> ((s, dir) => {
      Mp4Meta.parseMp4Meta(Mp4Meta.plantMp4s(docs(s, dir)))
        .select(col("media_id"), col("duration_ms"), col("timescale"),
          col("n_tracks"), col("codecs"), col("parsed"))
        .orderBy(col("media_id"))
    }),

    // ---- Mixed-container routing funnel: the realistic 100 TB video-
    // curation shape. Containers the JDK can demux (GIF) go through REAL
    // frame decode; containers it can't (MP4) are pruned by box-walk
    // METADATA BEFORE any decode would be paid (duration >= 60 s and an
    // avc1 video track present — the pre-decode filter p68's operator
    // exists for). Payloads never shuffle; only (id, container, metric,
    // kept) reaches the aggregation. Both branches recomputed closed-form
    // by the oracle. ----
    "p69_container_router" -> ((s, dir) => {
      val d = docs(s, dir)
      val gifStats = Multimodal
        .sampleVideoFrames(
          Multimodal.plantGifs(d.filter(col("doc_id") % 2 === 0)), 1)
        .groupBy(col("media_id"))
        .agg(sum(col("pixel_sum")).as("metric"))
        .select(col("media_id"), lit("gif").as("container"),
          col("metric"), lit(true).as("kept"))
      val mp4Pruned = Mp4Meta
        .parseMp4Meta(Mp4Meta.plantMp4s(d.filter(col("doc_id") % 2 === 1)))
        .select(col("media_id"), lit("mp4").as("container"),
          col("duration_ms").as("metric"),
          (col("duration_ms") >= 60000L &&
            array_contains(split(col("codecs"), ","), "avc1")).as("kept"))
      gifStats.unionByName(mp4Pruned)
        .groupBy(col("container"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), col("metric")).otherwise(0L))
            .as("kept_metric_sum"))
        .orderBy(col("container"))
    }),

    // ---- HTML full-page extraction (the WARC→text stage of a crawl
    // pipeline): planted deterministic pages — script bodies carrying raw
    // `<`/`>`/`&&` traps, entities, link-dense chrome — stripped to text
    // with codegen'd regexp built-ins. The oracle rebuilds the SAME page
    // closed-form in SQL and strips it with DuckDB's RE2 — a differential
    // test of the whole pipeline across two regex engines. Narrow
    // per-row transform: no shuffle, fuses into the scan at 100 TB. ----
    "p70_html_extract" -> ((s, dir) => {
      Html.pageFeatures(Html.plantHtml(docs(s, dir), "doc_id", "text"),
        "id", "html")
        .orderBy(col("id"))
    }),

    // ---- jusText-style main-content extraction: per-block link density +
    // word count keep/drop (nav/footer chrome is link-dense, fragments are
    // short, anchored CONTENT stays). Blocks are processed in document
    // order with higher-order array functions — no explode/groupBy round
    // trip, one codegen'd projection. ----
    "p71_boilerplate_blocks" -> ((s, dir) => {
      Html.blockExtract(Html.plantHtml(docs(s, dir), "doc_id", "text"),
        "id", "html")
        .orderBy(col("id"))
    }),

    // ---- URL canonicalization + crawl dedup signal: case/port/fragment/
    // trailing-slash/param-order/tracking-param normalization, then the
    // shared-canonical-URL count (the key a crawl dedups on BEFORE paying
    // content hashing). Only (id, canon_url) shuffles for the window. ----
    "p72_url_canonicalize" -> ((s, dir) =>
      Urls.withCanonical(Urls.plantUrls(docs(s, dir), "doc_id"), "id", "url")
        .orderBy(col("id"))),

    // ---- the full web-crawl front-end funnel, composed: canonical-URL
    // keep-first dedup (the cheap pre-fetch key), HTML main-content
    // extraction of the survivors, a quality gate on extracted content,
    // then content-fingerprint dedup (md5 of main_text with the
    // id-bearing h1 prefix removed, so true content dups collapse), and a
    // per-host funnel report. Every shuffle moves slim columns only
    // (canon_url / host / fp + ids) — page payloads stay in their narrow
    // extraction stage; the canonical-window layout is REUSED by the
    // keep-first row_number (one exchange serves both). ----
    "p73_web_curation" -> ((s, dir) => {
      val d = docs(s, dir)
      val canon = Urls.withCanonical(Urls.plantUrls(d, "doc_id"), "id", "url")
      val surv = canon
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("canon_url")).orderBy(col("id"))))
        .filter(col("rk") === 1)
      val extracted = Html.blockExtract(
          Html.plantHtml(d, "doc_id", "text"), "id", "html")
        .select(col("id"), col("main_text"), col("n_kept"), col("main_chars"))
      val gated = surv.select(col("id"), col("host")).join(extracted, "id")
        .filter(col("main_chars") >= 120 && col("n_kept") >= 2)
        .withColumn("fp", md5(regexp_replace(col("main_text"),
          "^doc [0-9]+ & heading <x> ?", "")))
      val ded = gated
        .withColumn("rk2", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("id"))))
        .filter(col("rk2") === 1)
      val st0 = canon.groupBy(col("host"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("canon_url")).as("n_canonical"))
      val st1 = gated.groupBy(col("host")).agg(count(lit(1)).as("n_quality"))
      val st2 = ded.groupBy(col("host")).agg(count(lit(1)).as("n_final"))
      st0.join(st1, Seq("host"), "left").join(st2, Seq("host"), "left")
        .select(col("host"), col("n_urls"), col("n_canonical"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          coalesce(col("n_final"), lit(0L)).as("n_final"))
        .orderBy(col("host"))
    }),

    // ---- perceptual image hashing: 64-bit dHash from the REAL ImageIO
    // decode path (9x8 integer block-mean pool, adjacent-cell gradient
    // signs). Planted pixels are closed-form in id, so the oracle
    // recomputes every band word in SQL WITHOUT a codec — while the Spark
    // side round-trips genuine PNG bytes. Narrow decode stage; only
    // (id, 4 small words) leaves it. ----
    "p74_image_dhash" -> ((s, dir) => {
      ImageHash.dhashSignatures(Multimodal.plantPngs(docs(s, dir)))
        .select(col("media_id").as("id"), col("width"), col("height"),
          col("b0"), col("b1"), col("b2"), col("b3"))
        .orderBy(col("id"))
    }),

    // ---- image near-dup pairs: re-encoded copies (decode -> re-encode
    // PNG round trip, id + 2^40 — a bit no doc_id reaches, so copy ids
    // are disjoint from base ids at ANY corpus scale — every 5th doc)
    // planted next to the base
    // corpus, then banded Hamming bucketing (4x16-bit bands, exact recall
    // at radius 3 by pigeonhole) + exact XOR-popcount verify. The oracle
    // computes the ALL-PAIRS answer closed-form — equality proves the
    // banding lost nothing. Payloads never shuffle; pair generation moves
    // O(images x 4) slim rows. Base corpus = plantPngsFp (shape-varying
    // pixel rule): the legacy ramp is additive in id and mints ~30k
    // natural phase-twin pairs at sf0.1 — fixture artifact, not
    // operator workload (see plantPngsFp scaladoc). ----
    "p75_image_neardup_pairs" -> ((s, dir) => {
      val media = withCopies(Multimodal.plantPngsFp(docs(s, dir)))(
        Multimodal.resizePooled(_, 1))
      // maxBucketSize explicit: the all-pairs oracle equality below is the
      // point of this query, so the scale cap (default 1000) must be a
      // no-op here by construction, not by fixture luck.
      // Sharing the signatures measured NEUTRAL here (ConfAb 0.97/1.01
      // over 8 reps): pairs-only shape, 3 reads, no CC consumer — left raw.
      ImageHash.nearDupPairs(ImageHash.dhashSignatures(media),
          maxBucketSize = Long.MaxValue)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- WARC record parsing: planted multi-record WARC files (warcinfo
    // + request for every 3rd id + response carrying the planted page and
    // URL) parsed back by the bounded byte walker. The oracle recomputes
    // counts/types/URIs/byte-lengths/payload md5s closed-form — genuine
    // framing bytes on the Spark side, zero WARC code on the oracle side.
    // Narrow parse; payloads never shuffle. ----
    "p76_warc_records" -> ((s, dir) => {
      Warc.parseWarc(Warc.plantWarcs(docs(s, dir)))
        .select(col("media_id").as("id"), col("rec_idx"), col("warc_type"),
          col("target_uri"), col("content_length"),
          md5(col("payload")).as("payload_md5"), col("ok"))
        .orderBy(col("id"), col("rec_idx"))
    }),

    // ---- the p73 web funnel fed from WARC BYTES instead of an HTML
    // column: parse -> responses -> (uri, payload->html) -> canonical
    // keep-first -> block-extraction quality gate -> content-fingerprint
    // dedup -> per-host report. Oracle is VERBATIM p73's — proving the
    // parse layer transparent end to end. Payloads stay in the narrow
    // parse/extract stages; only slim columns shuffle. ----
    "p77_warc_funnel" -> ((s, dir) => {
      val recs = Warc.responses(Warc.plantWarcs(docs(s, dir)))
        .select(col("media_id").as("id"), col("target_uri").as("url"),
          decode(col("payload"), "UTF-8").as("html"))
      val canon = Urls.withCanonical(recs.select(col("id"), col("url")),
        "id", "url")
      val surv = canon
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("canon_url")).orderBy(col("id"))))
        .filter(col("rk") === 1)
      val extracted = Html.blockExtract(recs, "id", "html")
        .select(col("id"), col("main_text"), col("n_kept"), col("main_chars"))
      val gated = surv.select(col("id"), col("host")).join(extracted, "id")
        .filter(col("main_chars") >= 120 && col("n_kept") >= 2)
        .withColumn("fp", md5(regexp_replace(col("main_text"),
          "^doc [0-9]+ & heading <x> ?", "")))
      val ded = gated
        .withColumn("rk2", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("id"))))
        .filter(col("rk2") === 1)
      val st0 = canon.groupBy(col("host"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("canon_url")).as("n_canonical"))
      val st1 = gated.groupBy(col("host")).agg(count(lit(1)).as("n_quality"))
      val st2 = ded.groupBy(col("host")).agg(count(lit(1)).as("n_final"))
      st0.join(st1, Seq("host"), "left").join(st2, Seq("host"), "left")
        .select(col("host"), col("n_urls"), col("n_canonical"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          coalesce(col("n_final"), lit(0L)).as("n_final"))
        .orderBy(col("host"))
    }),

    // ---- TRUE subword tokenization (planted-vocab greedy WordPiece as a
    // codegen'd expression — not the regex proxy): per-doc piece count,
    // id sum, and an ORDER-SENSITIVE positional checksum, so the oracle's
    // recursive-CTE walk must reproduce the exact token SEQUENCE, not just
    // its bag. Two-stage select keeps the encode kernel at once-per-row.
    // Narrow, shuffle-free, whole-stage codegen. ----
    "p78_bpe_encode" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          graft.functions.Bpe.bpeEncode(TF.normText(col("text"))).as("__ids"))
        .select(col("doc_id"),
          size(col("__ids")).as("n_pieces"),
          aggregate(col("__ids"), lit(0L),
            (a, x) => a + x.cast("long")).as("id_sum"),
          aggregate(
            transform(col("__ids"),
              (x, i) => x.cast("long") * (i + 1).cast("long")),
            lit(0L), (a, x) => a + x).as("checksum"))
        .orderBy(col("doc_id"))
    }),

    // ---- the budget consumer rewired through TRUE tokenization: shard
    // packing where the budget is the planted-vocab subword count (what a
    // trainer actually sees), not chars or whitespace tokens. Same
    // two-phase prefix-sum packer as p21, parameterized by the BPE weight
    // column. ----
    "p79_bpe_packing" -> ((s, dir) => {
      val withBpe = docs(s, dir).select(col("doc_id"),
        graft.functions.Bpe.bpeCount(TF.normText(col("text"))).as("n_bpe"))
      Sampling.packByBudget(withBpe, "doc_id", "n_bpe", budget = 5000L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bpe")).cast("long").as("total_bpe"))
        .orderBy(col("shard"))
    }),

    // ---- per-host crawl quota (politeness cap): canonical keep-first
    // dedup, then at most k pages per HOST via the deterministic
    // hash-ordered cap — the last standard crawl-curation rule. Both
    // windows move only (id, canon_url/host) slim columns. ----
    "p80_host_quota" -> ((s, dir) => {
      val canon = Urls.plantUrls(docs(s, dir), "doc_id")
        .select(col("id"), Urls.canonicalize(col("url")).as("canon_url"),
          Urls.hostOf(col("url")).as("host"))
      val surv = canon.withColumn("rk1", row_number().over(
          Window.partitionBy(col("canon_url")).orderBy(col("id"))))
        .filter(col("rk1") === 1).drop("rk1")
      Sampling.capPerGroup(surv, "host", "id", k = 25)
        .select(col("id"), col("host"), col("canon_url"), col("rk"))
        .orderBy(col("id"))
    }),

    // ---- end-to-end image dedup: dHash pairs -> connected components
    // (min-label; the same distributed CC machinery as the text side's
    // p18) -> keep-lowest survivors. Completes the image-dedup story
    // pairs alone start: a re-encoded duplicate CLUSTER keeps exactly
    // one image. Oracle: all-pairs hamming graph + recursive-CTE CC. ----
    "p81_image_dedup_survivors" -> ((s, dir) => {
      val sigs = Shared(ImageHash.dhashSignatures(
        withCopies(Multimodal.plantPngsFp(docs(s, dir)))(
          Multimodal.resizePooled(_, 1))))
      // explicit uncapped: the recursive-CTE CC oracle is the ALL-PAIRS
      // graph's answer, same reasoning as p75.
      Dedup.survivors(sigs,
        (d, cap) => ImageHash.nearDupPairs(d, maxBucketSize = cap))
    }),

    // ---- perceptual audio fingerprinting: 64-bit sign-of-energy-delta
    // hash (65 time bins of mean absolute amplitude) from the REAL
    // javax.sound.sampled decode path, over a MIXED corpus — 8-bit
    // unsigned mono WAVs for every 10th id, 16-bit signed LE
    // mono/stereo for the rest — so one row proves both PCM decode
    // shapes feed the
    // fingerprint. Planted samples are closed-form in id, so the oracle
    // recomputes every band word in SQL without a codec. Narrow decode
    // stage; only (id, 4 small words) leaves it. ----
    "p82_audio_fingerprint" -> ((s, dir) => {
      AudioHash.fingerprints(mixedWavs(s, dir))
        .select(col("media_id").as("id"), col("sample_rate"),
          col("channels"), col("n_frames"),
          col("b0"), col("b1"), col("b2"), col("b3"))
        .orderBy(col("id"))
    }),

    // ---- audio near-dup pairs: container re-encode copies (decode ->
    // identity PCM -> re-encode WAV round trip, id + 2^40, every 5th
    // doc) planted next to the fingerprint-grade base corpus
    // (plantWavsFp: quadratic-mixed samples, >= 2 frames per bin — the
    // legacy linear plants are structurally self-similar and would
    // measure fixture artifacts, not the operator), then banded Hamming
    // bucketing + exact XOR-popcount verify. The oracle computes the
    // ALL-PAIRS answer closed-form — equality proves the banding lost
    // nothing. Payloads never shuffle; pair generation moves
    // O(clips x 4) slim rows. ----
    "p83_audio_neardup_pairs" -> ((s, dir) => {
      val media = withCopies(Multimodal.plantWavsFp(docs(s, dir)))(
        Multimodal.resampleAudioDecimated(_, 1))
      // maxBucketSize explicit: all-pairs oracle equality is the point,
      // so the scale cap (default 1000) must be a no-op by construction.
      AudioHash.nearDupPairs(Shared(AudioHash.fingerprints(media)),
          maxBucketSize = Long.MaxValue)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- end-to-end audio dedup: fingerprint pairs -> connected
    // components (the same distributed CC machinery as the text side's
    // p18 and the image side's p81) -> keep-lowest survivors. Closes the
    // last dedup-less modality: a re-encoded duplicate CLUSTER keeps
    // exactly one clip. Oracle: all-pairs hamming graph +
    // recursive-CTE CC. ----
    "p84_audio_dedup_survivors" -> ((s, dir) => {
      val sigs = Shared(AudioHash.fingerprints(
        withCopies(Multimodal.plantWavsFp(docs(s, dir)))(
          Multimodal.resampleAudioDecimated(_, 1))))
      Dedup.survivors(sigs,
        (d, cap) => AudioHash.nearDupPairs(d, maxBucketSize = cap))
    }),

    // ---- multimodal WARC routing: a mixed crawl segment (every file
    // carries an html response; every 4th also an image/png response;
    // every 6th an audio/wav response) parsed once, then
    // Content-Type-routed — image payloads into the dHash signature
    // path, audio payloads into the energy-delta fingerprint path, html
    // payloads into block extraction — the p69 container-router shape
    // at the crawl front door. One oracled row proves the byte-level
    // front door handles a mixed segment across ALL THREE modalities:
    // image/audio rows carry their closed-form band words, html rows
    // the closed-form extraction metrics. Payloads stay in the narrow
    // parse/decode stages; only slim columns shuffle. ----
    "p85_warc_multimodal" -> ((s, dir) => {
      val recs = Warc.responses(Warc.plantMixedWarcs(docs(s, dir)))
      val imgs = ImageHash.dhashSignatures(Warc.mediaPayloads(recs, "image"))
        .select(col("media_id").as("id"), lit("image").as("kind"),
          col("b0").as("m1"), col("b1").as("m2"), col("b2").as("m3"),
          col("b3").as("m4"))
      val auds = AudioHash.fingerprints(Warc.mediaPayloads(recs, "audio"))
        .select(col("media_id").as("id"), lit("audio").as("kind"),
          col("b0").as("m1"), col("b1").as("m2"), col("b2").as("m3"),
          col("b3").as("m4"))
      val htmls = Html.blockExtract(
          Warc.htmlPages(recs, "id"),
          "id", "html")
        .select(col("id"), lit("html").as("kind"),
          col("n_blocks").cast("int").as("m1"),
          col("n_kept").cast("int").as("m2"),
          col("main_chars").cast("int").as("m3"),
          lit(null).cast("int").as("m4"))
      imgs.unionByName(auds).unionByName(htmls)
        .orderBy(col("id"), col("kind"))
    }),

    // ---- curated-output write path: the p80 host-quota survivors land
    // in the deterministic partitioned parquet sink (hive dirs on host,
    // 2 files per host via the hash bucket, rows sorted by id within
    // each file) and are read straight back — the oracle is p80's own
    // SQL, so a green row proves the sink is TRANSPARENT: layout
    // assignment, partition-dir round-trip, and types survive the disk
    // hop. The write itself is the operator under test; layout
    // determinism across cluster layouts is spec-pinned in LayoutSpec.
    "p86_curated_sink" -> ((s, dir) => {
      val canon = Urls.plantUrls(docs(s, dir), "doc_id")
        .select(col("id"), Urls.canonicalize(col("url")).as("canon_url"),
          Urls.hostOf(col("url")).as("host"))
      val surv = canon.withColumn("rk1", row_number().over(
          Window.partitionBy(col("canon_url")).orderBy(col("id"))))
        .filter(col("rk1") === 1).drop("rk1")
      val capped = Sampling.capPerGroup(surv, "host", "id", k = 25)
        .select(col("id"), col("host"), col("canon_url"), col("rk"))
      // Deterministic per-fixture location (overwritten every run) so repeat
      // constructions (bench iterations, plan audits) stay bounded; rooted
      // at spark.graft.curatedSinkRoot so concurrent sessions can isolate
      // the side effect. NOTE the write runs eagerly at query CONSTRUCTION
      // (the sink IS the operator under test; gates run serially).
      val out = Layout.sinkDir(s, dir)
      Layout.curatedRoundTrip(capped, out, "host", Seq("id"),
        filesPerPartition = 2)()
        .select(col("id"), col("host"), col("canon_url"), col("rk"))
        .orderBy(col("id"))
    }),

    // ---- production-scale tokenizer vocab: the p78 scan against a
    // ~12k-entry merge table shipped via SparkContext.broadcast and
    // probed with packed-key hash lookups (longest-first 4/3/2) — the
    // real-vocab fan-out shape. The table is generated closed-form, so
    // the oracle rebuilds membership ARITHMETICALLY inside the same
    // recursive walk; the order-sensitive positional checksum again
    // makes the token sequence (not just its bag) the thing compared. ----
    "p87_bpe_big_vocab" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          graft.functions.Bpe.bpeEncodeBig(TF.normText(col("text")))
            .as("__ids"))
        .select(col("doc_id"),
          size(col("__ids")).as("n_pieces"),
          aggregate(col("__ids"), lit(0L),
            (a, x) => a + x.cast("long")).as("id_sum"),
          aggregate(
            transform(col("__ids"),
              (x, i) => x.cast("long") * (i + 1).cast("long")),
            lit(0L), (a, x) => a + x).as("checksum"))
        .orderBy(col("doc_id"))
    }),

    // ---- incremental image near-dup refresh: a BATCH (re-encode copies
    // of every 7th corpus image + fresh never-seen images) dedups
    // against a settled CORPUS without re-pairing corpus×corpus — batch
    // bands equi-join the corpus band buckets, exact recall at radius 3
    // by the same pigeonhole, O((corpus+batch)×4) slim rows shuffled.
    // The oracle computes the full corpus×batch all-pairs answer —
    // equality proves the incremental path finds exactly what a
    // from-scratch pass would. The daily-slice shape at 100 TB.
    // Corpus/copies/fresh plant the fingerprint-grade plantPngsFp (the
    // p75/p81 rule): the legacy additive-in-id ramp mints phase-twin
    // pairs that dominate a PAIR query's output — fixture artifact, not
    // operator workload (see plantPngsFp scaladoc). ----
    "p88_image_incremental_neardup" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpus = ImageHash.dhashSignatures(Multimodal.plantPngsFp(d))
      val copies = Multimodal.resizePooled(
          Multimodal.plantPngsFp(d.filter(col("doc_id") % 7 === 0)), 1)
        .withColumn("media_id", col("media_id") + CopyIdOffset)
      val fresh = Multimodal.plantPngsFp(
        d.filter(col("doc_id") % 7 === 3)
          .select((col("doc_id") + FreshIdOffset).as("doc_id")))
      val batch = ImageHash.dhashSignatures(copies.unionByName(fresh))
      // maxBucketSize explicit: all-pairs oracle equality is the point.
      ImageHash.incrementalNearDupPairs(corpus, batch,
          maxBucketSize = Long.MaxValue)
        .orderBy(col("corpus_id"), col("batch_id"))
    }),

    // ---- video sequence near-dup pairs: re-muxed copies (real GIF
    // demux -> identity pool -> re-encode, id + 2^40, every 5th clip)
    // planted next to the fingerprint-grade base corpus, every 2nd
    // frame dHashed (the SAMPLING path — a re-encode keeps the sampled
    // set), per-frame hashes majority-folded into a 64-bit temporal
    // fingerprint, then the shared banded-Hamming pair machinery. The
    // oracle recomputes every per-frame grid bit AND the majority fold
    // closed-form, then the ALL-PAIRS answer — equality proves the
    // banding lost nothing. Payloads never shuffle. Base corpus =
    // plantGifsFp (shape-varying pixel rule — the phase-twin lesson
    // applied from day one; see plantGifsFp scaladoc). ----
    "p89_video_neardup_pairs" -> ((s, dir) => {
      val media = withCopies(Multimodal.plantGifsFp(docs(s, dir)))(
        Multimodal.resizeVideoPooled(_, 1))
      // maxBucketSize explicit: all-pairs oracle equality is the point.
      // Sharing the signatures measured NEUTRAL here (ConfAb 1.04) —
      // pairs-only shape.
      VideoHash.nearDupPairs(VideoHash.fingerprints(media, everyN = 2),
          maxBucketSize = Long.MaxValue)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- end-to-end video dedup: temporal-fingerprint pairs ->
    // connected components -> keep-lowest survivors (the p84 shape over
    // the video stack). A re-encoded duplicate CLIP keeps exactly one
    // copy — the last modality without a dedup story now has one.
    // Oracle: closed-form majority-fold words -> all-pairs hamming
    // graph -> recursive-CTE CC. ----
    "p90_video_dedup_survivors" -> ((s, dir) => {
      val sigs = Shared(VideoHash.fingerprints(
        withCopies(Multimodal.plantGifsFp(docs(s, dir)))(
          Multimodal.resizeVideoPooled(_, 1)),
        everyN = 2))
      // explicit uncapped: the recursive-CTE CC oracle is the ALL-PAIRS
      // graph's answer, same reasoning as p81/p84.
      Dedup.survivors(sigs,
        (d, cap) => VideoHash.nearDupPairs(d, maxBucketSize = cap))
    }),

    // ---- END-TO-END multimodal curation capstone: ONE verified plan
    // running the whole crawl-to-corpus path — WARC bytes -> sniff-first
    // contentKind routing -> per-modality dedup (image dHash CC + audio
    // fingerprint CC survivors, text canonical/quality/fingerprint
    // funnel survivors) -> deterministic curated parquet sink ->
    // read-back. The fixture plants byte-identical media COPIES across
    // crawl files (id≡4 mod 8 carries id−4's image; id≡6 mod 12 carries
    // id−6's clip), so every stage has work to do; the oracle composes
    // the existing closed-form twins (dHash words, fingerprint words,
    // funnel CTEs) + recursive-CTE CC — owning neither a WARC parser
    // nor any codec. Composition is where integration bugs live (the
    // p57/p77 lesson); this row proves the seams. ----
    "p91_crawl_curation_capstone" -> ((s, dir) => {
      // Parse ONCE, route three ways: the parsed records feed the image,
      // audio, and html branches — shared so the WARC plant+parse isn't
      // re-executed per branch (at 100 TB you'd land the parsed records
      // once for the same reason; the eager sink write below lets the
      // shared rows go before the query returns).
      val recs = Shared(Warc.responses(Warc.plantMixedWarcsFp(docs(s, dir))))
      def survivors(sigs: DataFrame,
                    pairs: (DataFrame, Long) => DataFrame, kind: String) =
        Dedup.uncappedClusters(sigs, pairs)
          .filter(col("id") === col("cluster_id"))
          .select(lit(kind).as("kind"), col("id"), col("cluster_id"))
      // uncapped pairs: the oracle is the all-pairs CC answer (p81/p84
      // reasoning); the fp plants bound natural pair volume by design.
      val isigs = Shared(
        ImageHash.dhashSignatures(Warc.mediaPayloads(recs, "image")))
      val isurv = survivors(isigs,
        (d, cap) => ImageHash.nearDupPairs(d, maxBucketSize = cap), "image")
      val asigs = Shared(
        AudioHash.fingerprints(Warc.mediaPayloads(recs, "audio")))
      val asurv = survivors(asigs,
        (d, cap) => AudioHash.nearDupPairs(d, maxBucketSize = cap), "audio")
      // text: the p77 funnel to its final fingerprint-dedup survivors
      val pages = Warc.htmlPages(recs, "id", Some("url"))
      val canon = Urls.withCanonical(pages.select(col("id"), col("url")),
        "id", "url")
      val kept1 = canon.withColumn("rk", row_number().over(
          Window.partitionBy(col("canon_url")).orderBy(col("id"))))
        .filter(col("rk") === 1)
      val extracted = Html.blockExtract(pages, "id", "html")
        .select(col("id"), col("main_text"), col("n_kept"), col("main_chars"))
      val gated = kept1.select(col("id")).join(extracted, "id")
        .filter(col("main_chars") >= 120 && col("n_kept") >= 2)
        .withColumn("fp", md5(regexp_replace(col("main_text"),
          "^doc [0-9]+ & heading <x> ?", "")))
      val tsurv = gated.withColumn("rk2", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("id"))))
        .filter(col("rk2") === 1)
        .select(lit("html").as("kind"), col("id"), col("id").as("cluster_id"))
      val curated = isurv.unionByName(asurv).unionByName(tsurv)
      // the p86 sink discipline: conf-rooted deterministic path, eager
      // write (the sink IS part of the operator under test)
      val out = Layout.sinkDir(s, "p91:" + dir)
      Layout.curatedRoundTrip(curated, out, "kind", Seq("id"),
          filesPerPartition = 2)(Shared.release(recs))
        .orderBy(col("kind"), col("id"))
    }),

    // ---- incremental cluster MAINTENANCE — the refresh loop's second
    // half (p88 produces the pairs; this folds them into settled
    // labels): a settled image corpus (base + re-encode copies of every
    // 5th = real 2-member clusters) admits a daily batch (copies of
    // every 7th + fresh never-seen images) through
    // Dedup.admitToClusters: batch-bridged clusters relabel through a
    // BROADCAST map, fresh items mint new singletons, and NO corpus-wide
    // CC reruns. The oracle is from-scratch recursive-CTE CC over the
    // COMBINED graph — equality proves bounded-work admission computes
    // exactly what a full recompute would. ----
    "p92_incremental_cluster_admit" -> ((s, dir) => {
      // The settled corpus state (signatures + CC labels) and the batch
      // signatures are LANDED parquet, materialized once per application
      // per fixture dir (p92Fixture below) — the production shape: a
      // refresh loop admits a daily batch against state already on
      // disk, it does not rebuild the corpus CC per run. This also
      // means the query under the bench is the admission operator and
      // its pair joins, not fixture construction, and no long-lived
      // persists are left behind (r16 ADVICE).
      val fx = p92Fixture(s, dir)
      val corpusSigs = s.read.parquet(fx.corpusSigs)
      val batchSigs = s.read.parquet(fx.batchSigs)
      val cross = ImageHash.incrementalNearDupPairs(corpusSigs, batchSigs,
          maxBucketSize = Long.MaxValue)
        .select(col("corpus_id"), col("batch_id"))
      val bpairs = ImageHash.nearDupPairs(batchSigs,
          maxBucketSize = Long.MaxValue)
        .select(col("id_a"), col("id_b"))
      Dedup.admitToClusters(s.read.parquet(fx.corpusLabels),
          Dedup.decodedIds(batchSigs),
          cross, bpairs)
        .orderBy(col("id"))
    }),

    // ---- model-based quality scoring: fastText-style linear-classifier
    // INFERENCE — hashed word unigram + bigram features × a planted
    // closed-form weight table (broadcast + probed inside WSCG, the p87
    // vocab-distribution shape). The oracle recomputes every rolling
    // codepoint hash, feature index, and weight arithmetically in SQL —
    // a wrong broadcast entry, hash step, or bigram combine breaks the
    // per-doc score exactly. ----
    "p93_quality_classifier" -> ((s, dir) => {
      val toks = filter(split(TF.normText(col("text")), " "),
        t => length(t) > 0)
      docs(s, dir)
        .select(col("doc_id"), size(toks).as("__n"),
          graft.functions.FastText.score(TF.normText(col("text")))
            .as("score"))
        .select(col("doc_id"),
          (col("__n") + greatest(col("__n") - 1, lit(0))).cast("int")
            .as("n_grams"),
          col("score"), (col("score") > 0).as("kept"))
        .orderBy(col("doc_id"))
    }),

    // ---- the classifier thresholded into a quality cascade (the p46
    // funnel shape): all docs -> statistical length gate -> model-based
    // classifier gate, reported as per-stage survivor counts. The
    // standard curation cascade ends with exactly this model stage. ----
    "p94_classifier_funnel" -> ((s, dir) => {
      val scored = docs(s, dir).select(
        size(filter(split(TF.normText(col("text")), " "),
          t => length(t) > 0)).as("n_toks"),
        graft.functions.FastText.score(TF.normText(col("text"))).as("score"))
      scored
        .agg(count(lit(1)).as("n_all"),
          sum(when(col("n_toks") >= 10, 1L).otherwise(0L)).as("n_len"),
          sum(when(col("n_toks") >= 10 && col("score") > 0, 1L)
            .otherwise(0L)).as("n_ml"))
        .select(explode(array(
          struct(lit(0).as("stage_idx"), lit("all").as("stage"),
            col("n_all").as("n_docs")),
          struct(lit(1).as("stage_idx"), lit("min_tokens_10").as("stage"),
            col("n_len").as("n_docs")),
          struct(lit(2).as("stage_idx"), lit("classifier_pos").as("stage"),
            col("n_ml").as("n_docs")))).as("s"))
        .select(col("s.stage_idx"), col("s.stage"), col("s.n_docs"))
        .orderBy(col("stage_idx"))
    }),

    // ---- product quantization encode (the 64x vector-store shrink
    // behind FAISS-class ANN): 8 sub-vectors x 16 planted closed-form
    // centroids -> 4-bit codes packed into ONE long per vector +
    // reconstruction error. The codebook ships via a real
    // SparkContext.broadcast and is probed inside WSCG (the p87/p93
    // shape); the oracle re-derives every argmin and distance
    // arithmetically — a wrong centroid, tie rule, or summation order
    // breaks per-vector equality. ----
    "p95_pq_encode" -> ((s, dir) => {
      val pq = Pq.encode(col("embedding"))
      emb(s, dir)
        .select(col("vec_id"), pq.getField("code").as("pq_code"),
          round(pq.getField("err"), 6).as("rec_err"))
        .orderBy(col("vec_id"))
    }),

    // ---- asymmetric-distance (ADC) top-k over PQ codes: the corpus
    // side scans 8-byte codes (never decompressing), the query side
    // broadcasts (qid, 128-double LUT) rows, and each candidate costs 8
    // table probes. Distance identity: lut[m*16 + code] is computed by
    // the EXACT operation sequence a direct recompute uses, so the
    // oracle (which recomputes from the codebook rule) matches
    // bit-for-bit; ranking ties break on vec_id. ----
    "p96_pq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val codes = e.select(col("vec_id"),
        Pq.encode(col("embedding")).getField("code").as("pq_code"))
      val qs = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), Pq.lut(col("embedding")).as("lut"))
      top5Rows(adcTop5(codes.join(broadcast(qs))))
    }),

    // ---- sliding-window audio fingerprints (the sub-clip containment
    // substrate): every clip in the segment-grade planted corpus decoded
    // once, 130-frame windows at hop 26, each window's 64-bit
    // energy-delta fingerprint as 4 band words the oracle recomputes
    // closed-form from the planted waveform rule — offset arithmetic
    // included, so a window-indexing bug breaks per-row equality. ----
    "p97_audio_window_sigs" -> ((s, dir) => {
      AudioHash.windowFingerprints(
          Multimodal.plantWavsSeg(docs(s, dir)), win = 130, hop = 26)
        .select(col("media_id"), col("n_frames"), col("n_wins"),
          col("win_idx"), col("w0"), col("w1"), col("w2"), col("w3"))
        .orderBy(col("media_id"), col("win_idx"))
    }),

    // ---- sub-clip containment: segment ids (id % 7 = 5) are true
    // hop-aligned excerpts of container id-5's waveform, so ALL of a
    // segment's windows equi-join the container's at one offset — an
    // 8-byte-hash join + alignment count, never a payload comparison.
    // (A spec pins zero degenerate hash buckets on this shape-varying
    // quadratic plant; production callers keep the default cap as live
    // protection against digital silence at 100 TB.) ----
    "p98_audio_containment" -> ((s, dir) => {
      // maxBucketSize explicit: the oracle computes the UNCAPPED join,
      // so equality must be structural, never dependent on the default
      // cap happening to be a no-op on this fixture (the p102
      // nearDupPairs convention; a spec pins zero degenerate buckets,
      // production callers keep the default cap).
      AudioHash.containmentPairs(
          AudioHash.windowFingerprints(
            Multimodal.plantWavsSeg(docs(s, dir)), win = 130, hop = 26),
          maxBucketSize = Long.MaxValue)
        .orderBy(col("inner_id"), col("outer_id"), col("offset_wins"))
    }),

    // ---- per-frame video dHashes (the sub-sequence containment
    // substrate — p89's whole-clip majority fold deliberately NOT
    // applied): every frame of the segment-grade planted GIF corpus
    // through the real demux + the audited dhashOfRaster grid kernel,
    // band words recomputed closed-form in SQL, absolute-frame pixel
    // rule included. ----
    "p99_video_frame_sigs" -> ((s, dir) => {
      VideoHash.frameHashes(Multimodal.plantGifsSeg(docs(s, dir)))
        .select(col("media_id"), col("n_frames"), col("frame_idx"),
          col("w0"), col("w1"), col("w2"), col("w3"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // ---- video sub-sequence containment: segment ids (id % 7 = 5) are
    // pixel-identical frame ranges [off, off+4) of container id-5, so
    // ALL of a segment's frame hashes equi-join the container's at one
    // offset — the SAME SequenceContainment alignment join as the audio
    // side (one audited implementation for both temporal modalities).
    // (A spec pins zero degenerate buckets on the frame-varying gradient
    // plant; production callers keep the default flat-frame cap.) ----
    "p100_video_containment" -> ((s, dir) => {
      // maxBucketSize explicit — same rationale as p98.
      VideoHash.containmentPairs(
          VideoHash.frameHashes(Multimodal.plantGifsSeg(docs(s, dir))),
          maxBucketSize = Long.MaxValue)
        .orderBy(col("inner_id"), col("outer_id"), col("offset_frames"))
    }),

    // ---- small-file compaction round-trip (Delta OPTIMIZE / Iceberg
    // rewrite_data_files analog — the standing maintenance operator
    // every 100 TB lakehouse runs): the docs table scattered over 64
    // KB-scale files (the streaming-ingest debris shape), compacted to
    // filesystem-MEASURED size targets, read straight back. Oracle =
    // the source table itself: compaction must be a no-op on the DATA.
    // File-count arithmetic + size evenness are spec-pinned in
    // LayoutSpec (bytes aren't SQL-derivable). Eager write at query
    // construction — the sink IS the operator under test (the p86
    // convention; conf-rooted, per-fixture path, overwrite mode). ----
    "p101_compaction_roundtrip" -> ((s, dir) => {
      val root = Layout.sinkDir(s, "p101:" + dir)
      val src = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      src.repartition(64).write.mode("overwrite").parquet(root + "/small")
      Layout.compactDir(s, root + "/small", root + "/compacted",
        targetFileBytes = 256 * 1024)
      s.read.parquet(root + "/compacted").orderBy(col("doc_id"))
    }),

    // ---- crawl-embedded video dedup: WARC files where every 5th doc
    // carries an animated GIF labeled `application/octet-stream` — the
    // sniff-first router must rescue EVERY clip by magic bytes alone
    // (mislabeled media is the r15 ADVICE case; a header-first router
    // returns zero video rows here) — then demux -> temporal
    // fingerprints -> banded pairs -> CC survivors: one plan from crawl
    // bytes to the video-dedup decision. Oracle: the closed-form
    // majority-fold word CTEs under the (id/10)*10 copy rule +
    // recursive-CTE CC, zero knowledge of WARC framing or routing. ----
    "p102_crawl_video_dedup" -> ((s, dir) => {
      val recs = Warc.responses(Warc.plantVideoWarcs(docs(s, dir)))
      val sigs = Shared(VideoHash.fingerprints(
        Warc.mediaPayloads(recs, "video"),
        everyN = 2))
      // maxBucketSize explicit: all-pairs oracle equality is the point.
      Dedup.survivors(sigs,
        (d, cap) => VideoHash.nearDupPairs(d, maxBucketSize = cap))
    }),

    // ---- IVF-PQ top-k (the FAISS-class index layout, both layers
    // closed-form): a planted 16-centroid COARSE quantizer assigns every
    // vector to an inverted list; queries probe their 4 nearest lists;
    // within probed lists the p96 ADC machinery scores 8-byte PQ codes.
    // The corpus side reads (cell, pq_code) — at 100 TB the probed-cell
    // equi-join is the partition-pruning story (cell = the partition
    // key; 4/16 of the corpus scanned instead of all of it), and the
    // scan itself never touches raw floats. Oracle: both argmins, the
    // probe ranking, and every ADC distance recomputed arithmetically. ----
    "p103_ivfpq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      def dl = Pq.coarseDists(col("embedding"))
      val codes = e.select(col("vec_id"),
        Pq.encode(col("embedding")).getField("code").as("pq_code"),
        KMeans.nearest(dl).cast("int").as("cell"))
      val qs = probePanel(e.filter(col("vec_id") % 50 === 0), dl,
        Pq.lut(col("embedding")).as("lut"), "lut")
      top5Rows(adcTop5(codes.join(broadcast(qs), Seq("cell"))))
    }),

    // ---- tokenized training-shard export (the artifact a pipeline
    // hands the trainer): REAL subword token counts (the p87 broadcast
    // BPE inside WSCG) -> token-budget packing (p21's distributed
    // prefix-sum, here over TOKENS not chars) -> the deterministic
    // curated sink partitioned BY SHARD -> read-back. The oracle
    // recomputes the token counts via the recursive BPE walk and the
    // shard assignment via the same prefix-sum arithmetic — a green row
    // proves the last-mile export end to end: budgets, boundaries, and
    // the disk hop. Eager write at construction (p86 convention). ----
    "p104_shard_export" -> ((s, dir) => {
      // Share the token counts: packByBudget's two-phase prefix sum
      // evaluates its input twice (per-bucket totals, then the window
      // job) and the sink write a third time — unshared, the BPE scan
      // (the expensive stage) reruns each time. At 100 TB
      // you'd materialize token counts once for the same reason.
      val toks = Shared(docs(s, dir).select(col("doc_id"),
        size(graft.functions.Bpe.bpeEncodeBig(TF.normText(col("text"))))
          .cast("long").as("n_toks")))
      // Budget sized so a shard is a real training shard, not a
      // file-commit microbench: ~20k tokens/shard keeps the partitioned
      // write at dozens of leaf dirs per SF, not hundreds.
      val packed = Sampling.packByBudget(toks, "doc_id", "n_toks",
        budget = 20000L)
      val out = Layout.sinkDir(s, "p104:" + dir)
      Layout.curatedRoundTrip(packed, out, "shard", Seq("doc_id"))(
          Shared.release(toks))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).cast("long").as("total_toks"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard"))
    }),

    // ---- RESIDUAL IVF-PQ top-k (the production FAISS IndexIVFPQ
    // layout, p103's upgrade): codes quantize the residual v − C(cell)
    // — residuals concentrate near zero, so the same 4-bit budget spends
    // on what the coarse layer didn't explain — and each (query, probed
    // cell) pair gets its own residual ADC LUT. Still one 8-byte code +
    // 4-bit cell per corpus vector; still a probed-cell equi-join; still
    // every argmin, probe rank, and distance recomputed arithmetically
    // by the oracle (two left-assoc double subtractions, documented in
    // Pq.residualEncodeJava). ----
    "p105_ivfpq_residual_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val enc = Pq.residualEncode(col("embedding"))
      val codes = e.select(col("vec_id"),
        enc.getField("cell").as("cell"),
        enc.getField("code").as("pq_code"))
      val dl = Pq.coarseDists(col("embedding"))
      val qs = probePanel(e.filter(col("vec_id") % 50 === 0), dl,
          col("embedding"), "embedding")
        .select(col("qid"), col("cell"),
          Pq.residualLut(col("embedding"), col("cell")).as("lut"))
      top5Rows(adcTop5(codes.join(broadcast(qs), Seq("cell"))))
    }),

    // ---- distributed k-means (Lloyd) coarse-quantizer TRAINING (what
    // p103/p105 were missing: FAISS trains IndexIVFPQ's coarse layer on
    // the corpus, it doesn't ship closed-form centroids): seeded pick →
    // 3 fixed iterations of broadcast-assign + decimal-exact means.
    // Output = every centroid of every iteration snapshot (0 = seeds),
    // so the oracle replays the ENTIRE training run arithmetically —
    // one wrong argmin, mean, tie rule, or empty-cell carry in any
    // iteration breaks per-row equality. ----
    "p106_kmeans_train" -> ((s, dir) => {
      import s.implicits._
      val m = kmModel(s, dir)
      val rows: Seq[(Long, Long, Long, Double)] = for {
        (snap, it) <- m.snapshots.zipWithIndex
        cell <- 0 until (if (m.dim == 0) 0 else snap.length / m.dim)
        d <- 0 until m.dim
      } yield (it.toLong, cell.toLong, d.toLong, snap(cell * m.dim + d))
      rows.toDF("iter", "cell", "dim_idx", "cval")
        .orderBy(col("iter"), col("cell"), col("dim_idx"))
    }),

    // ---- per-iteration training inertia (the Lloyd descent curve, the
    // convergence diagnostic every k-means run logs): Σ round(min
    // distance, 6) summed as DECIMAL — exact, layout-stable, and the
    // oracle recomputes each iteration's value from ITS snapshot. A
    // spec pins monotone non-increase. ----
    "p107_kmeans_inertia" -> ((s, dir) => {
      import s.implicits._
      val m = kmModel(s, dir)
      m.inertia.zipWithIndex
        .map { case (v, i) => ((i + 1).toLong, v) }
        .toDF("iter", "inertia")
        .orderBy(col("iter"))
    }),

    // ---- the trained model APPLIED: final-centroid assignment of the
    // whole corpus — the broadcast-probe-inside-WSCG shape (a trained
    // codebook is data on the wire, the CentroidDists expression rides
    // addReferenceObj exactly like the planted-codebook kernels). ----
    "p108_kmeans_assign" -> ((s, dir) => {
      val m = kmModel(s, dir)
      val dl = KMeans.dists(col("embedding"), m)
      validEmb(s, dir)
        .select(col("vec_id"), dl.as("__dl"))
        .select(col("vec_id"),
          KMeans.nearest(col("__dl")).cast("bigint").as("cell"),
          round(array_min(col("__dl")), 6).as("d2"))
        .orderBy(col("vec_id"))
    }),

    // ---- IVF-PQ top-k over the TRAINED coarse quantizer (p103 with
    // the planted coarse codebook swapped for the Lloyd-trained one —
    // the full production flow: train → assign inverted lists → probe
    // 4 nearest trained cells → ADC over 8-byte PQ codes). The oracle
    // replays training, both argmins, the probe ranking, and every ADC
    // distance arithmetically. ----
    "p109_ivfpq_trained_topk" -> ((s, dir) => {
      top5Rows(trainedIvfTopK(s, dir))
    }),

    // ---- BPE merge-table TRAINING (the trainer half of the p78/p87
    // subword encode chain — classic Sennrich byte-pair encoding):
    // distributed word-vocab count -> per-rank distributed pair counts
    // -> deterministic selection (count desc, pair asc) -> greedy
    // left-to-right non-overlapping rewrite, for a fixed budget. The
    // oracle replays the ENTIRE run with an independent FORMULATION of
    // the greedy rewrite (run-parity window marks vs the engine's
    // array fold) — a green row proves both the counts and the
    // non-overlap semantics at every rank. ----
    "p110_bpe_train" -> ((s, dir) => {
      import s.implicits._
      bpeModel(s, dir).merges
        .map(m => (m.rank.toLong, m.lhs, m.rhs, m.merged, m.cnt))
        .toDF("mrank", "lhs", "rhs", "merged", "cnt")
        .orderBy(col("mrank"))
    }),

    // ---- the trained tokenizer APPLIED corpus-wide: per-doc token
    // counts under the trained merge table — train -> tokenize as one
    // auditable chain (the chain p104 runs with the PLANTED table).
    // Token counting joins the doc words against the tokenized
    // VOCABULARY (each distinct word's symbol count), never re-folding
    // per occurrence — the production shape: the vocab is the model. ----
    "p111_bpe_trained_tokens" -> ((s, dir) => {
      val model = bpeModel(s, dir)
      val sizes = BpeTrain.tokenizedVocab(
          BpeTrain.wordVocab(docs(s, dir), col("text")), model)
        .select(col("word"), col("n_syms"))
      val words = docs(s, dir).select(col("doc_id"),
          explode(filter(split(TF.normText(col("text")), " "),
            w => length(w) > 0)).as("word"))
        .filter(col("word").rlike(BpeTrain.WordPattern))
      words.join(sizes, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_syms")).cast("long").as("n_toks"))
        .orderBy(col("doc_id"))
    }),

    // ---- keep-the-container dedup ACTION over the containment DAG
    // (what p98 produced pairs FOR): a clip survives iff it is never
    // the contained side. The fixture plants a REAL three-level chain
    // — interior window slices of every segment (sub ⊂ segment ⊂
    // container), derived at the window-relation level (the operator's
    // input contract), so the chain rule "A ⊂ B ⊂ C keeps only C" is
    // load-bearing: transitive closure emits (sub, container) directly
    // and the survivor set is exactly the containers + standalone
    // clips. Oracle: the p98 alignment-join twin extended with the same
    // slice derivation + the inner-side drop rule. ----
    "p112_containment_survivors" -> ((s, dir) => {
      val base = AudioHash.windowFingerprints(
          Multimodal.plantWavsSeg(docs(s, dir)), win = 130, hop = 26)
        .filter(col("decoded") && col("win_idx").isNotNull)
        .select(col("media_id"), col("win_idx"), col("n_wins"), col("whash"))
      val sub = base
        .filter(col("media_id") % 7 === 5 && col("n_wins") >= 3 &&
          col("win_idx") >= 1 && col("win_idx") <= col("n_wins") - 2)
        .select((col("media_id") + SubIdOffset).as("media_id"),
          (col("win_idx") - 1).as("win_idx"),
          (col("n_wins") - 2).as("n_wins"), col("whash"))
      val all = base.unionByName(sub)
      // shareUpstream=false (r19): this caller's upstream is synthesized
      // audio windows re-sliced in SQL — cheap relative to the capped-row
      // materialization job the checkpoint adds (r18 measured the
      // unconditional checkpoint at 0.48 → 1.17 s here while p100/p113's
      // decode-heavy paths won). The decode-heavy wrappers
      // (AudioHash/VideoHash.containmentPairs) keep the default.
      val pairList = graft.operators.SequenceContainment.pairs(all,
        "media_id", "win_idx", "n_wins", "whash",
        maxBucketSize = Long.MaxValue, shareUpstream = false)
      graft.operators.SequenceContainment.survivors(
          all.select(col("media_id").as("id")).distinct(), pairList)
        .orderBy(col("id"))
    }),

    // ---- incremental (batch-vs-corpus) containment — the daily-slice
    // refresh for segment search: an incoming batch of clips joined
    // against the settled corpus windows in both directions, corpus
    // NEVER re-joined against itself. The batch plants both shapes: a
    // strict interior excerpt of a corpus clip (batch-inside-corpus)
    // and a full window copy (equal-length cross dup, canonical
    // direction). ----
    "p113_incremental_containment" -> ((s, dir) => {
      val base = AudioHash.windowFingerprints(
          Multimodal.plantWavsSeg(docs(s, dir)), win = 130, hop = 26)
      val slices = base
        .filter(col("decoded") && col("media_id") % 7 === 1 &&
          col("n_wins") >= 3 &&
          col("win_idx") >= 1 && col("win_idx") <= col("n_wins") - 2)
        .select((col("media_id") + BatchSeqIdOffset).as("media_id"),
          col("n_frames"),
          (col("n_wins") - 2).as("n_wins"),
          (col("win_idx") - 1).as("win_idx"),
          col("whash"), col("w0"), col("w1"), col("w2"), col("w3"),
          col("decoded"))
      val copies = base
        .filter(col("decoded") && col("media_id") % 7 === 2)
        .withColumn("media_id", col("media_id") + BatchSeqIdOffset)
      AudioHash.incrementalContainmentPairs(base,
          slices.unionByName(copies), maxBucketSize = Long.MaxValue)
        .orderBy(col("inner_id"), col("outer_id"), col("offset_wins"))
    }),

    // ---- the FULL crawl-to-corpus capstone: p91's plan with the
    // router's fourth branch closed — one crawl segment carrying html,
    // png, wav, AND mislabeled (octet-stream) animated-GIF responses;
    // parse once, route four ways by sniff-first kind, run each
    // modality's survivor chain (CC dedup for image/audio/video, the
    // canonical-URL + extraction + fingerprint funnel for text), land
    // ONE curated sink, read it back. The oracle composes FOUR
    // closed-form twins with zero knowledge of WARC framing, codecs,
    // or routing — including the temporal majority-fold video CTEs. ----
    "p114_crawl_capstone_full" -> ((s, dir) => {
      val recs = Shared(Warc.responses(Warc.plantFullWarcsFp(docs(s, dir))))
      def survivors(sigs: DataFrame,
                    pairs: (DataFrame, Long) => DataFrame, kind: String) =
        Dedup.uncappedClusters(sigs, pairs)
          .filter(col("id") === col("cluster_id"))
          .select(lit(kind).as("kind"), col("id"), col("cluster_id"))
      // Shared signatures (r19): four decode passes per modality -> one;
      // ConfAb measured p114 A=5.94 s vs B=6.20 s (5 reps) with summed
      // task time 95 -> 79 s.
      val isigs = Shared(
        ImageHash.dhashSignatures(Warc.mediaPayloads(recs, "image")))
      val isurv = survivors(isigs,
        (d, cap) => ImageHash.nearDupPairs(d, maxBucketSize = cap), "image")
      val asigs = Shared(
        AudioHash.fingerprints(Warc.mediaPayloads(recs, "audio")))
      val asurv = survivors(asigs,
        (d, cap) => AudioHash.nearDupPairs(d, maxBucketSize = cap), "audio")
      val vsigs = Shared(
        VideoHash.fingerprints(Warc.mediaPayloads(recs, "video"), everyN = 2))
      val vsurv = survivors(vsigs,
        (d, cap) => VideoHash.nearDupPairs(d, maxBucketSize = cap), "video")
      val pages = Warc.htmlPages(recs, "id", Some("url"))
      val canon = Urls.withCanonical(pages.select(col("id"), col("url")),
        "id", "url")
      val kept1 = canon.withColumn("rk", row_number().over(
          Window.partitionBy(col("canon_url")).orderBy(col("id"))))
        .filter(col("rk") === 1)
      val extracted = Html.blockExtract(pages, "id", "html")
        .select(col("id"), col("main_text"), col("n_kept"), col("main_chars"))
      val gated = kept1.select(col("id")).join(extracted, "id")
        .filter(col("main_chars") >= 120 && col("n_kept") >= 2)
        .withColumn("fp", md5(regexp_replace(col("main_text"),
          "^doc [0-9]+ & heading <x> ?", "")))
      val tsurv = gated.withColumn("rk2", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("id"))))
        .filter(col("rk2") === 1)
        .select(lit("html").as("kind"), col("id"), col("id").as("cluster_id"))
      val curated = isurv.unionByName(asurv).unionByName(vsurv)
        .unionByName(tsurv)
      val out = Layout.sinkDir(s, "p114:" + dir)
      Layout.curatedRoundTrip(curated, out, "kind", Seq("id"),
          filesPerPartition = 2)(Shared.release(recs))
        .orderBy(col("kind"), col("id"))
    }),

    // ---- classifier TRAINING from label counts (the trainer half of
    // p93/p94): per-feature occurrence counts over the SAME hashed
    // unigram+bigram features the scorer probes, folded into
    // fixed-point Laplace-smoothed weights
    // w = (pos+1)·200 div (tot+2) − 100 — integer-rational, no
    // transcendentals, so the oracle replays every count and every
    // weight exactly. Label: the lang-id task (lang = 'en'). ----
    "p115_classifier_train" -> ((s, dir) => {
      val FT = graft.functions.FastText
      docs(s, dir)
        .select(when(col("lang") === "en", 1).otherwise(0).as("p"),
          explode(FT.features(TF.normText(col("text")))).as("feat"))
        .groupBy(col("feat"))
        .agg(sum(col("p")).as("n_pos"), sum(lit(1) - col("p")).as("n_neg"))
        .select(col("feat").cast("bigint").as("feat"),
          col("n_pos"), col("n_neg"),
          (expr("((n_pos + 1) * 200) div (n_pos + n_neg + 2)") - 100)
            .as("w"))
        .orderBy(col("feat"))
    }),

    // ---- the TRAINED classifier applied corpus-wide (train -> score ->
    // threshold, the full p94 cascade shape with a trained model): the
    // trained weight array rides the SAME FastTextScore broadcast-probe
    // WSCG expression as the planted table — a production model swap is
    // a data swap. ----
    "p116_classifier_trained_scores" -> ((s, dir) => {
      val FT = graft.functions.FastText
      val bc = ftModel(s, dir)
      docs(s, dir)
        .select(col("doc_id"),
          FT.scoreWith(TF.normText(col("text")), bc).as("score"))
        .select(col("doc_id"), col("score"), (col("score") > 0).as("kept"))
        .orderBy(col("doc_id"))
    }),

    // ---- per-subspace PQ codebook TRAINING (how FAISS trains its
    // product subquantizers — M independent Lloyd runs over the
    // sub-vectors, folded into ONE distributed encode+aggregate pass
    // per iteration; assignment IS the audited encodeJava kernel
    // against the current broadcast). Output = every centroid of every
    // (m, cell, j) of every iteration snapshot — the oracle replays
    // the whole run. ----
    "p117_pq_train" -> ((s, dir) => {
      import s.implicits._
      val mo = pqModel(s, dir)
      val rows: Seq[(Long, Long, Long, Long, Double)] = for {
        (snap, it) <- mo.snapshots.zipWithIndex
        mm <- 0 until (if (snap.isEmpty) 0 else Pq.M)
        cell <- 0 until Pq.K
        j <- 0 until Pq.SubDim
      } yield (it.toLong, mm.toLong, cell.toLong, j.toLong,
        snap((mm * Pq.K + cell) * Pq.SubDim + j))
      rows.toDF("iter", "m", "cell", "dim_idx", "cval")
        .orderBy(col("iter"), col("m"), col("cell"), col("dim_idx"))
    }),

    // ---- ADC top-k over the TRAINED product quantizer (p96 with the
    // planted codebook swapped for the Lloyd-trained one — with p109
    // this completes the vector-store family's trained path: both the
    // coarse layer and the code layer now come from corpus training,
    // and both ride the same broadcast-probe WSCG kernels). ----
    "p118_pq_trained_topk" -> ((s, dir) => {
      val mo = pqModel(s, dir)
      val base = validEmb(s, dir)
      val e = if (mo.codebook.isEmpty) base.limit(0) else base
      val codes = e.select(col("vec_id"),
        Pq.encodeWith(col("embedding"), mo.bc)
          .getField("code").as("pq_code"))
      val qs = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"),
          Pq.lutWith(col("embedding"), mo.bc).as("lut"))
      top5Rows(adcTop5(codes.join(broadcast(qs))))
    }),

    // ---- ANN index-quality measurement: recall@5 of the trained
    // IVF-PQ index (p109's exact plan) against the exact float-L2
    // top-5 — the eval harness every production vector store runs
    // after (re)training (FAISS's `1-recall@R` protocol). The exact
    // side is a DOCUMENTED brute-force baseline: corpus × the
    // broadcast query panel, linear in the corpus because the panel
    // doesn't scale with it (the p96 adjudication class; at 100 TB
    // the panel is a fixed eval set, the corpus side streams). The
    // index side scans 8-byte codes in 4 probed cells. The oracle
    // recomputes BOTH rankings and the intersection count — recall
    // n/5.0 is exactly representable, so equality is bit-strict. ----
    "p119_ann_recall" -> ((s, dir) => {
      val e = validEmb(s, dir)
      val qs = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val exact = e.join(broadcast(qs))
        .select(col("qid"), col("vec_id"),
          graft.functions.VectorFunctions
            .l2Squared(col("embedding"), col("qe")).as("d2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"))
      val hits = exact
        .join(trainedIvfTopK(s, dir).select(col("qid"), col("vec_id")),
          Seq("qid", "vec_id"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      qs.select(col("qid"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) / lit(5.0)).as("recall"))
        .orderBy(col("qid"))
    }),

    // ---- SemDeDup: semantic dedup scoped to the TRAINED k-means
    // cells (cluster first, compare only inside clusters — the
    // cluster-pruned analog of p13's LSH-bucketed cosine pairs). The
    // corpus is re-ingested with its planted duplicates (plantedCopies),
    // then assigned to trained cells and pruned within-cell at
    // squared-L2 tau=1.0 (natural pairs sit ≥ ~1.1 apart, planted
    // ones well inside). The oracle replays training, every
    // assignment, every within-cell distance, and the keep-smallest-id
    // rule. Cross-cell dups are unreported BY DESIGN (the SemDeDup
    // recall tradeoff, spec-pinned in SimilaritySpec). ----
    "p120_semantic_dedup" -> ((s, dir) => {
      plantedIdGuard(s, dir)
      val m = kmModel(s, dir)
      val base = validEmb64(s, dir)
      val all = base.unionByName(plantedCopies(base))
      Similarity.semanticDedup(assignCells(all, m), tau = 1.0)
        .orderBy(col("vec_id"))
    }),

    // ---- incremental vector-index admission (the p92 refresh shape
    // for the TRAINED IVF-PQ store): the settled index — (vec_id,
    // cell, pq_code) for every corpus vector OUTSIDE the daily batch
    // (vec_id % 17 = 3) — is LANDED parquet built once per fixture
    // dir; the batch is assigned and PQ-encoded at query time with the
    // SAME broadcast models (no retrain — FAISS `add` after `train`),
    // unioned, and served. Correctness statement: the admitted index
    // answers top-k IDENTICALLY to a from-scratch index over the whole
    // corpus — the oracle replays BOTH trainings and ranks over
    // everything, knowing nothing about the split or the disk hop. ----
    "p121_vector_index_admit" -> ((s, dir) => {
      val km = kmModel(s, dir)
      val pq = pqModel(s, dir)
      val e = validEmb(s, dir)
      val live = if (pq.codebook.isEmpty) e.limit(0) else e
      val corpusIdx = s.read
        .schema("vec_id BIGINT, cell INT, pq_code BIGINT")
        .parquet(p121Fixture(s, dir))
      val index = corpusIdx.unionByName(
        indexRows(live.filter(col("vec_id") % 17 === 3), km, pq))
      val qs = probePanel(live.filter(col("vec_id") % 50 === 0),
        KMeans.dists(col("embedding"), km),
        Pq.lutWith(col("embedding"), pq.bc).as("lut"), "lut")
      top5Rows(adcTop5(index.join(broadcast(qs), Seq("cell"))))
    }),

    // ---- the ALL-TRAINED data recipe (p104 with every model artifact
    // replaced by its trained counterpart): the TRAINED classifier
    // (p115's label-count weights) gates the corpus at a RELATIVE
    // threshold — keep docs scoring above the corpus floor-mean (raw
    // scores are length-scaled and prior-shifted, so an absolute 0 cut
    // keeps nothing; production quality filters select a target slice,
    // not a fixed logit) — the TRAINED BPE merge table (p110) prices
    // the kept docs in tokens, the prefix-sum packer cuts 20k-token
    // shards, the curated sink round-trips them. One green row proves
    // the full train → score → threshold → tokenize → pack → export
    // chain with zero planted artifacts. The +1e9 shift keeps the
    // integer mean's operands positive, where Spark's truncating `div`
    // and DuckDB's flooring `//` agree. ----
    "p122_trained_recipe_export" -> ((s, dir) => {
      val FT = graft.functions.FastText
      val scored = docs(s, dir)
        .select(col("doc_id"),
          (FT.scoreWith(TF.normText(col("text")), ftModel(s, dir))
            + lit(1000000000L)).as("s2"))
      val thr = scored.agg(
        expr("sum(s2) div greatest(count(1), 1)").as("thr"))
      val kept = scored.crossJoin(broadcast(thr))
        .filter(col("s2") > col("thr"))
        .select(col("doc_id"))
      val model = bpeModel(s, dir)
      val sizes = BpeTrain.tokenizedVocab(
          BpeTrain.wordVocab(docs(s, dir), col("text")), model)
        .select(col("word"), col("n_syms"))
      val words = docs(s, dir).select(col("doc_id"),
          explode(filter(split(TF.normText(col("text")), " "),
            w => length(w) > 0)).as("word"))
        .filter(col("word").rlike(BpeTrain.WordPattern))
      val toks = Shared(words.join(kept, Seq("doc_id"))
        .join(sizes, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n_syms")).cast("long").as("n_toks")))
      val packed = Sampling.packByBudget(toks, "doc_id", "n_toks",
        budget = 20000L)
      val out = Layout.sinkDir(s, "p122:" + dir)
      Layout.curatedRoundTrip(packed, out, "shard", Seq("doc_id"))(
          Shared.release(toks))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).cast("long").as("total_toks"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard"))
    }),

    // ---- cluster-balanced sampling: a per-cell quota over the TRAINED
    // k-means cells (the diversity-panel shape — an eval set or
    // annotation batch drawn evenly across semantic clusters instead of
    // iid, which over-samples dense regions). Deterministic rank within
    // cell by the scrambled-key rule (the kmseed / p19 hash-sample
    // discipline), quota 8 per cell. ----
    "p123_cluster_balanced_sample" -> ((s, dir) => {
      val m = kmModel(s, dir)
      val dl = KMeans.dists(col("embedding"), m)
      validEmb(s, dir)
        .select(col("vec_id"),
          KMeans.nearest(dl).cast("bigint").as("cell"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("cell")).orderBy(
            pmod(col("vec_id") * lit(2654435761L), lit(4294967296L)),
            col("vec_id"))))
        .filter(col("rk") <= 8)
        .select(col("vec_id"), col("cell"), col("rk").cast("long").as("rk"))
        .orderBy(col("cell"), col("rk"))
    }),

    // ---- kNN label prediction over the trained index (the classic
    // ANN-backed classifier: predict = majority label of the IVF-PQ
    // top-5, ties broken label-ascending): the trained index serves a
    // downstream MODEL, not just a search box — and the embeddings
    // table's label column finally closes its loop. Self-votes count
    // (queries are corpus members; documented). The oracle replays the
    // index ranking, the vote count, and the tie rule. ----
    "p124_knn_label_predict" -> ((s, dir) => {
      val labels = emb(s, dir).select(col("vec_id"), col("label"))
      val votes = trainedIvfTopK(s, dir)
        .select(col("qid"), col("vec_id"))
        .join(labels, Seq("vec_id"))
        .groupBy(col("qid"), col("label"))
        .agg(count(lit(1)).as("n_votes"))
      votes.withColumn("vr", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("n_votes").desc, col("label"))))
        .filter(col("vr") === 1)
        .join(labels.select(col("vec_id").as("qid"),
          col("label").as("true_label")), Seq("qid"))
        .select(col("qid"), col("label").cast("int").as("pred_label"),
          col("n_votes"), col("true_label").cast("int").as("true_label"),
          (col("label") === col("true_label")).as("correct"))
        .orderBy(col("qid"))
    }),

    // ---- vector-index health report (the maintenance dashboard a
    // production store watches after every (re)train/admit cycle):
    // per trained coarse cell, the inverted-list population and the
    // DECIMAL-summed PQ reconstruction error — unbalanced cells mean a
    // bad coarse layer, rising error means the codebook no longer fits
    // the data (retrain trigger). Per-vector error is the audited
    // encodeJava kernel's sum; the p107 round-6 decimal discipline
    // keeps the per-cell totals layout-stable and SQL-recomputable. ----
    "p125_index_health" -> ((s, dir) => {
      val km = kmModel(s, dir)
      val pq = pqModel(s, dir)
      val e = validEmb(s, dir)
      val live = if (pq.codebook.isEmpty) e.limit(0) else e
      live.select(KMeans.nearest(KMeans.dists(col("embedding"), km))
            .cast("bigint").as("cell"),
          round(Pq.encodeWith(col("embedding"), pq.bc).getField("err"), 6)
            .cast("decimal(38,6)").as("err"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("err")).cast("double").as("total_err"))
        .orderBy(col("cell"))
    }),

    // ---- RESIDUAL IVF-PQ with BOTH layers TRAINED (the last planted
    // layer in the vector stack falls: p105's production FAISS
    // IndexIVFPQ `by_residual` layout, now with the Lloyd-trained
    // coarse quantizer AND a PQ codebook trained on the residuals
    // v − C(cell) themselves — exactly FAISS's training order). The
    // residuals are float-cast per element (one IEEE round-to-nearest,
    // replayed by the oracle as CAST(... AS FLOAT)) so the SAME
    // audited float-array trainer/encoder kernels serve both spaces.
    // Each (query, probed cell) gets its own residual LUT. The oracle
    // replays the coarse training, the residual derivation, the
    // residual PQ training, both argmins, the probe ranking, and every
    // ADC distance arithmetically. ----
    "p126_residual_trained_topk" -> ((s, dir) => {
      val km = kmModel(s, dir)
      val rpq = resPqModel(s, dir)
      val res = residualFrame(s, dir)
      val live = if (rpq.codebook.isEmpty) res.limit(0) else res
      val codes = live.select(col("vec_id"), col("cell"),
        Pq.encodeWith(col("resv"), rpq.bc).getField("code").as("pq_code"))
      val e = validEmb(s, dir)
      val eLive = if (rpq.codebook.isEmpty) e.limit(0) else e
      val qs = probePanel(eLive.filter(col("vec_id") % 50 === 0),
          KMeans.dists(col("embedding"), km), col("embedding"), "embedding")
        .join(broadcast(kmCentroidsDf(s, km)), Seq("cell"))
        .select(col("qid"), col("cell"),
          Pq.lutWith(zip_with(col("embedding"), col("cv"),
            (x, c) => (x.cast("double") - c).cast("float")), rpq.bc)
            .as("lut"))
      top5Rows(adcTop5(codes.join(broadcast(qs), Seq("cell"))))
    }),

    // ---- Matryoshka truncation eval (MRL, Kusupati et al.
    // arXiv:2205.13147): recall@5 of PREFIX-dimension (first 16 of 64)
    // exact search against full-dimension exact search — the
    // dimension-vs-quality tradeoff every MRL deployment measures
    // before shipping truncated vectors. Both sides are fixed-panel
    // brute force (the eval baseline class, PlanAudit-exempt); the
    // oracle recomputes both rankings and the intersection. ----
    "p127_matryoshka_recall" -> ((s, dir) => {
      val VF = graft.functions.VectorFunctions
      val e = validEmb(s, dir)
      val qs = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      def top5(dist: Column): DataFrame = e.join(broadcast(qs))
        .select(col("qid"), col("vec_id"), dist.as("d2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"))
      val full = top5(VF.l2Squared(col("embedding"), col("qe")))
      val prefix = top5(VF.l2Squared(slice(col("embedding"), 1, 16),
        slice(col("qe"), 1, 16)))
      val hits = full.join(prefix, Seq("qid", "vec_id"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      qs.select(col("qid")).join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) / lit(5.0)).as("recall"))
        .orderBy(col("qid"))
    }),

    // ---- int8 scalar-quantization eval: recall@5 of exact search over
    // the int8-DECODED corpus (p29's quantizer — queries stay float,
    // the production asymmetric-distance shape) against float exact —
    // what the 4× shrink costs in answer quality. The oracle replays
    // the quantize, the decode, and both rankings. ----
    "p128_int8_recall" -> ((s, dir) => {
      val VF = graft.functions.VectorFunctions
      val e = validEmb(s, dir)
      val qs = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      def top5(df: DataFrame, dist: Column): DataFrame =
        df.join(broadcast(qs))
          .select(col("qid"), col("vec_id"), dist.as("d2"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("vec_id"))
      val full = top5(e, VF.l2Squared(col("embedding"), col("qe")))
      val deq = Quantize.int8(e).select(col("vec_id"),
        Quantize.decode(col("qv"), col("lo"), col("scale")).as("dv"))
      val approx = top5(deq, VF.l2Squared(col("dv"), col("qe")))
      val hits = full.join(approx, Seq("qid", "vec_id"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      qs.select(col("qid")).join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) / lit(5.0)).as("recall"))
        .orderBy(col("qid"))
    }),

    // ---- hybrid retrieval: reciprocal-rank fusion (Cormack et al.,
    // SIGIR'09) of the BM25 top-20 (p23's exact scorer and ranking)
    // with an embedding top-20 (exact L2 against a fixed query vector,
    // doc_id = vec_id — the RAG hybrid-search shape). Ranks are
    // integers, so each 1/(60+r) term is an exact rational and the
    // two-term fused sum is deterministic double arithmetic; absent
    // ranks contribute 0 (the standard RRF convention). ----
    "p129_hybrid_rrf" -> ((s, dir) => {
      val VF = graft.functions.VectorFunctions
      val bm = TextOps.bm25TopK(docs(s, dir), "doc_id", "text",
        queryTokens = Seq("spark", "join", "window"), k = 20)
        .select(col("id").as("doc_id"), col("rk").as("rk_txt"))
      val e = validEmb(s, dir)
      val q0 = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val vec = e.crossJoin(broadcast(q0))
        .select(col("vec_id").as("doc_id"),
          VF.l2Squared(col("embedding"), col("qe")).as("d2"))
        .withColumn("rk_vec", row_number().over(
          Window.orderBy(col("d2"), col("doc_id"))))
        .filter(col("rk_vec") <= 20)
        .select(col("doc_id"), col("rk_vec"))
      bm.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("rk_txt"), col("rk_vec"),
          (coalesce(lit(1.0) / (lit(60.0) + col("rk_txt")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60.0) + col("rk_vec")), lit(0.0)))
            .as("rrf0"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rrf0").desc, col("doc_id"))))
        .filter(col("rk") <= 10)
        .select(col("doc_id"), round(col("rrf0"), 6).as("rrf"),
          coalesce(col("rk_txt"), lit(0)).cast("int").as("rk_txt"),
          coalesce(col("rk_vec"), lit(0)).cast("int").as("rk_vec"),
          col("rk").cast("long").as("rk"))
        .orderBy(col("rk"))
    }),

    // ---- incremental SemDeDup (the daily-refresh half of p120, the
    // BandedHamming.incrementalPairs shape for the semantic family):
    // the settled corpus is one side, the batch — exact copies, dim-1
    // near-copies, and FRESH vectors (dims 1–8 replaced, far from
    // everything) — the other; a batch row dies to any same-cell
    // corpus row within tau, or to a smaller-id same-cell batch row.
    // Corpus rows never re-join against themselves and never appear in
    // the output. The oracle replays training, all assignments, both
    // pair rules, and the survivor set. ----
    "p130_incremental_semantic_dedup" -> ((s, dir) => {
      plantedIdGuard(s, dir)
      val m = kmModel(s, dir)
      val base = validEmb64(s, dir)
      val batch = plantedCopies(base).unionByName(freshVectors(base))
      Similarity.incrementalSemanticDedup(assignCells(base, m),
          assignCells(batch, m), tau = 1.0)
        .orderBy(col("vec_id"))
    }),

    // ---- quality-decile mixture (the curriculum/mixing recipe on top
    // of the TRAINED classifier): rank the corpus by trained score,
    // split into integer deciles — ((rank−1)·10) div n, pure integer
    // arithmetic — and keep a decile-dependent slice by the
    // scrambled-key rule (rate 100−9·decile %: the best decile ships
    // whole, the worst mostly drops — the quality-weighted sampling
    // shape of DoReMi-style mixture tuning, kept SQL-recomputable).
    // Output is the per-decile mixing report. ----
    "p131_quality_decile_mix" -> ((s, dir) => {
      val FT = graft.functions.FastText
      val scored = docs(s, dir)
        .select(col("doc_id"),
          FT.scoreWith(TF.normText(col("text")), ftModel(s, dir))
            .as("score"))
      scored
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy(lit(1))))
        .withColumn("decile", expr("((rnk - 1) * 10) div n").cast("int"))
        .withColumn("kept",
          pmod(col("doc_id") * lit(2654435761L), lit(100L))
            < (lit(100) - lit(9) * col("decile")).cast("long"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .orderBy(col("decile"))
    }),

    // ---- STREAMING vector ingest (the online half of the vector
    // store: embedding shards arrive as files, each row is assigned to
    // its coarse cell and PQ-encoded STATELESS inside the micro-batch
    // — append mode, no watermark, no state store; the index append is
    // p121's admission fed by a stream). Run to completion into the
    // memory sink; the result must equal the batch encode of the same
    // file — the oracle recomputes every coarse argmin and packed code
    // closed-form and never knows a stream ran. ----
    "p132_stream_vector_ingest" -> ((s, dir) => {
      import graft.streaming.Streams
      import org.apache.spark.sql.streaming.OutputMode
      val enc = Pq.encode(col("embedding"))
      val dl = Pq.coarseDists(col("embedding"))
      Streams.runToMemory(
        Streams.embeddingsStream(s, dir)
          .filter(validEmbedding)
          .select(col("vec_id"),
            KMeans.nearest(dl).cast("int").as("cell"),
            enc.getField("code").as("pq_code")),
        name = "p132_mem", mode = OutputMode.Append())
        .orderBy(col("vec_id"))
    }),

    // ---- semantic DECONTAMINATION (the embedding-space analog of
    // p26/p49's n-gram eval-overlap scrub): flag every training vector
    // within tau of a same-trained-cell EVAL-panel vector — the
    // paraphrase-level leakage n-gram overlap misses. One-sided by
    // design (training rows are never compared against each other).
    // The fixture plants contamination: byte-exact eval copies and
    // dim-replaced near-copies re-ingested under training ids. ----
    "p133_semantic_decontamination" -> ((s, dir) => {
      plantedIdGuard(s, dir)
      val m = kmModel(s, dir)
      val e = validEmb64(s, dir)
      val evalPanel = e.filter(col("vec_id") % 50 === 0)
      val train = e.filter(col("vec_id") % 50 =!= 0)
        .unionByName(exactCopy(evalPanel, 4000000L))
        .unionByName(nearCopy(evalPanel, 5000000L))
      Similarity.semanticDecontaminate(assignCells(evalPanel, m),
          assignCells(train, m), tau = 1.0)
        .orderBy(col("vec_id"))
    }),

    // ---- sequential vector-corpus build (the p40 shape for the
    // semantic family):
    // batch 0 (even ids) SemDeDup'd internally becomes the corpus;
    // batch 1 (odd ids + planted exact copies of every 10th even id)
    // is internally deduped then ADMITTED — a batch-1 row dies to any
    // same-cell corpus row within tau or a smaller-id batch-1 row.
    // Output = the admitted corpus with batch provenance; the oracle
    // replays both dedups and the admission rule. ----
    "p134_sequential_vector_admit" -> ((s, dir) => {
      plantedIdGuard(s, dir)
      val m = kmModel(s, dir)
      val e = validEmb64(s, dir)
      val b0all = assignCells(e.filter(col("vec_id") % 2 === 0), m)
      val b0 = b0all.join(
        Similarity.semanticDedup(b0all, tau = 1.0)
          .filter(col("kept")).select(col("vec_id")), Seq("vec_id"))
      val copies = exactCopy(e.filter(col("vec_id") % 10 === 4), 6000000L)
      val b1all = assignCells(
        e.filter(col("vec_id") % 2 === 1).unionByName(copies), m)
      val b1cand = b1all.join(
        Similarity.semanticDedup(b1all, tau = 1.0)
          .filter(col("kept")).select(col("vec_id")), Seq("vec_id"))
      val b1adm = b1cand.join(
        Similarity.incrementalSemanticDedup(b0, b1cand, tau = 1.0)
          .filter(col("kept")).select(col("vec_id")), Seq("vec_id"))
      b0.select(col("vec_id"), col("cell"), lit(0).as("batch"))
        .unionByName(
          b1adm.select(col("vec_id"), col("cell"), lit(1).as("batch")))
        .orderBy(col("vec_id"))
    }),

    // ---- k-means trained on the DETERMINISTIC HALF-SAMPLE (the r17
    // verdict's trainer fix, the FAISS shape: `train` sees a sample,
    // `add` sees everything): the training slice is the p19 hash-sample
    // — membership a pure function of the id — persisted across the
    // Lloyd iterations so per-iteration cost decouples from corpus
    // size. Output: every centroid of every snapshot, exactly p106's
    // contract; the oracle replays the whole run over the SAME sample
    // predicate. ----
    "p135_kmeans_sampled_train" -> ((s, dir) => {
      import s.implicits._
      val m = kmSampledModel(s, dir)
      val rows: Seq[(Long, Long, Long, Double)] = for {
        (snap, it) <- m.snapshots.zipWithIndex
        cell <- 0 until (if (m.dim == 0) 0 else snap.length / m.dim)
        d <- 0 until m.dim
      } yield (it.toLong, cell.toLong, d.toLong, snap(cell * m.dim + d))
      rows.toDF("iter", "cell", "dim_idx", "cval")
        .orderBy(col("iter"), col("cell"), col("dim_idx"))
    }),

    // ---- PQ trained on the half-sample, ENCODING THE FULL CORPUS (the
    // train/add split end to end): every corpus vector's packed code +
    // reconstruction error under the sample-trained codebook — p95's
    // output contract with the codebook trained on the slice. The
    // oracle replays the sampled training and the full-corpus
    // assignment (oPtCtes src/assignSrc split). ----
    "p136_pq_sampled_encode" -> ((s, dir) => {
      val pq = pqSampledModel(s, dir)
      val e = validEmb(s, dir)
      val live = if (pq.codebook.isEmpty) e.limit(0) else e
      val enc = Pq.encodeWith(col("embedding"), pq.bc)
      live.select(col("vec_id"),
          enc.getField("code").as("pq_code"),
          round(enc.getField("err"), 6).as("rec_err"))
        .orderBy(col("vec_id"))
    }),

    // ---- MULTI-PROBE SemDeDup (the r17 verdict's cross-cell recall
    // item): p120's fixture under the probed rule — the row under test
    // compares against smaller-id home-cell rows in its TOP-2 trained
    // cells, recovering boundary near-dups the single-cell scope
    // provably misses (SimilaritySpec plants the miss/catch pair). The
    // oracle recomputes the top-2 argmin expansion and both pair rules. ----
    "p137_semantic_dedup_multiprobe" -> ((s, dir) => {
      plantedIdGuard(s, dir)
      val m = kmModel(s, dir)
      val base = validEmb64(s, dir)
      val all = base.unionByName(plantedCopies(base))
      Similarity.semanticDedupProbed(probeCells(all, m), tau = 1.0)
        .orderBy(col("vec_id"))
    }),

    // ---- multi-probe INCREMENTAL SemDeDup: p130's refresh fixture with
    // the batch side probing its top-2 trained cells against home-cell
    // corpus and smaller-id home-cell batch rows — the daily refresh
    // with boundary recall. ----
    "p138_incremental_multiprobe_dedup" -> ((s, dir) => {
      plantedIdGuard(s, dir)
      val m = kmModel(s, dir)
      val base = validEmb64(s, dir)
      val batch = plantedCopies(base).unionByName(freshVectors(base))
      Similarity.incrementalSemanticDedupProbed(assignCells(base, m),
          probeCells(batch, m), tau = 1.0)
        .orderBy(col("vec_id"))
    }),

    // ---- index REBUILD + SWAP (the action on p125's health report —
    // the lifecycle closure the r17 verdict ranked #3): the corpus has
    // DRIFTED (fresh vectors the original training never saw); both
    // layers are RETRAINED from scratch on the drifted corpus, every
    // vector re-encoded, the new index landed to a fresh versioned
    // directory, and the serve path flipped to it. Correctness
    // statement: the post-swap index answers top-k IDENTICALLY to a
    // from-scratch fully-trained index over the drifted corpus — the
    // oracle replays both retrainings and the ADC ranking and never
    // knows a swap (or the old index) existed. ----
    "p139_index_rebuild_swap" -> ((s, dir) => {
      plantedIdGuard(s, dir)
      val (km2, pq2) = rebuiltModels(s, dir)
      val drifted = driftedFrame(s, dir)
      val live = if (pq2.codebook.isEmpty) drifted.limit(0) else drifted
      val index = s.read
        .schema("vec_id BIGINT, cell INT, pq_code BIGINT")
        .parquet(p139Fixture(s, dir))
      val qs = probePanel(live.filter(col("vec_id") % 50 === 0),
        KMeans.dists(col("embedding"), km2),
        Pq.lutWith(col("embedding"), pq2.bc).as("lut"), "lut")
      top5Rows(adcTop5(index.join(broadcast(qs), Seq("cell"))))
    }),

    // ---- DELETION propagation through settled cluster labels (the
    // right-to-be-forgotten scrub, the admitToClusters dual): the p92
    // landed image corpus drops every id = 2 (mod 9); labels are
    // repaired with CC recomputed ONLY over clusters touching a deleted
    // node — a removed bridge may SPLIT a cluster, a removed minimum
    // relabels its survivors (both pinned in DedupPropertySpec). The
    // oracle is from-scratch recursive CC over the SURVIVING subgraph —
    // equality proves bounded-work deletion computes exactly what a
    // full rebuild would. ----
    "p140_deletion_propagation" -> ((s, dir) => {
      val fx = p92Fixture(s, dir)
      val labels = s.read.parquet(fx.corpusLabels)
      val sigs = s.read.parquet(fx.corpusSigs)
      val pairs = ImageHash.nearDupPairs(sigs,
          maxBucketSize = Long.MaxValue)
        .select(col("id_a"), col("id_b"))
      val deletes = labels.filter(col("id") % 9 === 2).select(col("id"))
      Dedup.propagateDeletes(labels, pairs, deletes)
        .orderBy(col("id"))
    }),

    // ---- deletion through the LANDED vector index (the FAISS
    // remove_ids shape: entries leave the inverted lists, the trained
    // models stay — no retrain on delete): p121's admitted index minus
    // every vec_id = 5 (mod 13), serving the surviving query panel.
    // The oracle replays both original trainings over the FULL corpus
    // (models legitimately saw the deleted rows) and ranks over the
    // survivors only — deletion must be answer-exact, not best-effort. ----
    "p141_index_delete_serve" -> ((s, dir) => {
      val km = kmModel(s, dir)
      val pq = pqModel(s, dir)
      val e = validEmb(s, dir)
      val live = if (pq.codebook.isEmpty) e.limit(0) else e
      val corpusIdx = s.read
        .schema("vec_id BIGINT, cell INT, pq_code BIGINT")
        .parquet(p121Fixture(s, dir))
      val index = corpusIdx.unionByName(
          indexRows(live.filter(col("vec_id") % 17 === 3), km, pq))
        .filter(col("vec_id") % 13 =!= 5)
      val qs = probePanel(
        live.filter(col("vec_id") % 50 === 0 && col("vec_id") % 13 =!= 5),
        KMeans.dists(col("embedding"), km),
        Pq.lutWith(col("embedding"), pq.bc).as("lut"), "lut")
      top5Rows(adcTop5(index.join(broadcast(qs), Seq("cell"))))
    }),

    // ---- IMAGE–TEXT PAIR extraction (the LAION-shape multimodal
    // training-pair product — the one operator class the r17 verdict
    // ranked first): the paired crawl's pages embed <img src> + closed-
    // form alt/figcaption text; figures are extracted with real regex
    // segmentation, captions stripped/decoded through the htmlToText
    // path, the src CANONICALIZED and joined to the crawl's decoded
    // image records (whose target URLs are a DIFFERENT messy variant —
    // the join only lands through Urls.canonicalize), and captions
    // quality-gated at 3 words. The oracle recomputes every pair, its
    // decoded caption, the alt fallback, the gate, and the join
    // closed-form from the id arithmetic — it never parses a page. ----
    "p142_image_text_pairs" -> ((s, dir) => {
      // Shared parsed-WARC frame (r19): three consumers (pages' html
      // decode, the dhash decode side, the target-uri join side) each
      // re-ran the WARC plant+parse — same cut as p157's recs.
      val recs = Shared(Warc.responses(Warc.plantPairedWarcs(docs(s, dir))))
      val pages = Warc.htmlPages(recs)
      val imgs = Warc.withTargetUri(
        ImageHash.dhashSignatures(Warc.mediaPayloads(recs, "image")),
        recs, "image", "image_id", "img_url")
      Html.imageTextPairs(pages, "page_id", "html",
          imgs, "image_id", "img_url", "decoded")
        .select(col("page_id"), col("fig_idx"), col("image_id"),
          col("caption"), col("caption_lang"), col("n_caption_words"),
          col("kept"), col("decoded"))
        .orderBy(col("page_id"), col("fig_idx"))
    }),

    // ---- the PAIRED-crawl capstone (the LAION pipeline end to end):
    // WARC → route → figure extraction → canonical-URL join → caption
    // quality gate → PNG decode → perceptual image dedup (dHash + CC
    // under the (id/8)*8 copy rule) → captions AGGREGATED PER CANONICAL
    // IMAGE (cluster minimum) — the dataset a multimodal trainer
    // actually consumes: one row per unique image with its caption
    // pool. Oracle: planted pairs + dhash words + recursive CC, all
    // closed-form. ----
    "p143_paired_crawl_capstone" -> ((s, dir) => {
      val recs = Shared(Warc.responses(Warc.plantPairedWarcs(docs(s, dir))))
      val pages = Warc.htmlPages(recs)
      // Slim shared signatures: the pair join, the CC seed and the
      // band pairs all consume them — unshared each would re-run the
      // PNG decode (recs holds only parsed WARC bytes). Released with
      // recs after the sink write.
      val sigs = Shared(ImageHash.dhashSignatures(
          Warc.mediaPayloads(recs, "image"))
        .select(col("media_id"), col("dhash"), col("b0"), col("b1"),
          col("b2"), col("b3"), col("decoded")))
      val imgs = Warc.withTargetUri(sigs, recs, "image",
        "image_id", "img_url")
      val pairs = Html.imageTextPairs(pages, "page_id", "html",
          imgs, "image_id", "img_url", "decoded")
        .filter(col("kept") && col("decoded") &&
          col("caption_lang") === "en")
      // uncapped pairs: oracle equality (the p91 reasoning); planted
      // copy volume is bounded by the (id/8)*8 rule.
      val labels = Dedup.uncappedClusters(sigs,
        (d, cap) => ImageHash.nearDupPairs(d, maxBucketSize = cap))
      // the p86 sink discipline: eager write (the export IS part of the
      // pipeline under test), then the shared frames are released.
      captionPools(pairs, labels, "image_id", "canonical_image",
          Layout.sinkDir(s, "p143:" + dir)) {
        Shared.release(sigs); Shared.release(recs)
      }
    }),

    // ---- multi-probe semantic DECONTAMINATION: p133's fixture with
    // the training side probing its top-2 trained cells against
    // home-cell eval rows — boundary-straddling paraphrase leakage is
    // exactly where an eval scrub's missed recall costs the most. ----
    "p144_decontamination_multiprobe" -> ((s, dir) => {
      plantedIdGuard(s, dir)
      val m = kmModel(s, dir)
      val e = validEmb64(s, dir)
      val evalPanel = e.filter(col("vec_id") % 50 === 0)
      val train = e.filter(col("vec_id") % 50 =!= 0)
        .unionByName(exactCopy(evalPanel, 4000000L))
        .unionByName(nearCopy(evalPanel, 5000000L))
      Similarity.semanticDecontaminateProbed(assignCells(evalPanel, m),
          probeCells(train, m), tau = 1.0)
        .orderBy(col("vec_id"))
    }),

    // ---- AUDIO–text pair extraction (the AudioCaps shape — the pair
    // operator generalized to a second modality): odd pages embed one
    // <audio src> figure referencing the NEXT audio id's clip (tail
    // references miss — the unresolved side), captions in two
    // languages, NO alt fallback (audio has none — caption-less
    // figures fail the gate with an empty caption). Clips are routed
    // by the WARC front door, really decoded (AudioHash.fingerprints),
    // and joined on the canonical URL across two different messy
    // variants. The oracle recomputes everything closed-form. ----
    "p145_audio_text_pairs" -> ((s, dir) => {
      // Shared parsed-WARC frame — the p142 rationale.
      val recs = Shared(
        Warc.responses(Warc.plantAudioPairedWarcs(docs(s, dir))))
      val pages = Warc.htmlPages(recs)
      val clips = Warc.withTargetUri(
        AudioHash.fingerprints(Warc.mediaPayloads(recs, "audio")),
        recs, "audio", "audio_id", "clip_url")
      Html.audioTextPairs(pages, "page_id", "html",
          clips, "audio_id", "clip_url", "decoded")
        .select(col("page_id"), col("fig_idx"), col("audio_id"),
          col("caption"), col("caption_lang"), col("n_caption_words"),
          col("kept"), col("decoded"))
        .orderBy(col("page_id"), col("fig_idx"))
    }),

    // ---- VIDEO–text pair extraction (the WebVid shape — the third
    // modality of the pair family): id % 3 == 2 pages embed one <video>
    // figure referencing the NEXT video id's clip, with the MARKUP
    // alternating between a direct `src` attribute (plus a poster
    // image the extractor must not confuse with the clip) and the
    // HTML5 nested-<source> form; captions in de/es (the two langId
    // families the image/audio fixtures don't cover). Clips arrive
    // Content-Type-MISLABELED (router rescues them by GIF magic),
    // are really demux-decoded (VideoHash.fingerprints), and joined
    // on the canonical URL. The oracle recomputes everything
    // closed-form. ----
    "p146_video_text_pairs" -> ((s, dir) => {
      // Shared parsed-WARC frame — the p142 rationale.
      val recs = Shared(
        Warc.responses(Warc.plantVideoPairedWarcs(docs(s, dir))))
      val pages = Warc.htmlPages(recs)
      val clips = Warc.withTargetUri(
        VideoHash.fingerprints(Warc.mediaPayloads(recs, "video")),
        recs, "video", "video_id", "clip_url")
      Html.videoTextPairs(pages, "page_id", "html",
          clips, "video_id", "clip_url", "decoded")
        .select(col("page_id"), col("fig_idx"), col("video_id"),
          col("caption"), col("caption_lang"), col("n_caption_words"),
          col("kept"), col("decoded"))
        .orderBy(col("page_id"), col("fig_idx"))
    }),

    // ---- INTERLEAVED multimodal documents (the MMC4/OBELICS shape —
    // what a vision-language-model pretraining corpus stores): one row
    // per kept item in DOCUMENT ORDER — jusText-gated text blocks and
    // <figure><img src> placements — over the figure-bearing planted
    // pages. The oracle rebuilds the text items through the blockExtract
    // twin (figures are invisible to block segmentation by construction,
    // so the plain-page CTEs apply) and appends the figure items from
    // the closed-form id arithmetic, numbering the merged sequence. ----
    "p147_interleaved_docs" -> ((s, dir) => {
      // docsFanned: the page build + interleave regex pass — the
      // query's entire cost, profiled 2.5 s single-threaded on the
      // single-split scan — runs at session parallelism (ConfAb 1.79×).
      val pages = docsFanned(s, dir)
        .select(col("doc_id"),
          Html.plantedPageWithFigures(col("doc_id"), col("text")).as("html"))
      Html.interleavedDoc(pages, "doc_id", "html")
        .orderBy(col("page_id"), col("seq_idx"))
    }),

    // ---- MULTIMODAL shard export (p104's discipline for the VLM
    // corpus): each interleaved page is costed at its text words plus a
    // fixed 16 "patch tokens" per image placement (the
    // image-as-fixed-token-budget convention of VLM pretraining), pages
    // are packed id-ordered into ~5k-token shards by the scalable
    // two-phase prefix sum, landed to a shard-partitioned curated sink,
    // and summarized from the read-back — the full multimodal
    // training-shard product. ----
    "p148_multimodal_shards" -> ((s, dir) => {
      // docsFanned — the p147 rationale (parse dominates this query)
      val pages = docsFanned(s, dir)
        .select(col("doc_id"),
          Html.plantedPageWithFigures(col("doc_id"), col("text")).as("html"))
      // Share the per-page costs: packByBudget's two-phase prefix sum
      // evaluates its input twice and the sink write a third time —
      // unshared, the parse+extract stage (the expensive one)
      // reruns each time (the p104 rationale).
      val costs = Shared(Html.interleavedDoc(pages, "doc_id", "html")
        .groupBy(col("page_id"))
        .agg(sum(when(col("kind") === "image", lit(16))
            .otherwise(col("n_words"))).cast("long").as("n_toks"),
          count(when(col("kind") === "image", lit(1))).as("n_images")))
      val packed = Sampling.packByBudget(costs, "page_id", "n_toks",
        budget = 5000L)
      val out = Layout.sinkDir(s, "p148:" + dir)
      Layout.curatedRoundTrip(packed, out, "shard", Seq("page_id"))(
          Shared.release(costs))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_pages"),
          sum(col("n_toks")).cast("long").as("total_toks"),
          sum(col("n_images")).cast("long").as("total_images"),
          min(col("page_id")).as("first_page"),
          max(col("page_id")).as("last_page"))
        .orderBy(col("shard"))
    }),

    // ---- STREAMING pair extraction (the online front door of the
    // LAION pipeline): page batches arrive as a FILE STREAM, figures
    // are extracted STATELESS inside each micro-batch (regex
    // segmentation + caption strip are narrow projections — no state
    // store, no watermark), and each figure stream-static LEFT-joins
    // the LANDED media index (p142's decoded crawl records) on the
    // canonical URL. Append mode, run to completion; the result must
    // equal the batch extraction — the oracle is p142's, verbatim, and
    // never knows a stream ran. ----
    "p149_stream_pair_extract" -> ((s, dir) => {
      import graft.streaming.Streams
      import org.apache.spark.sql.streaming.OutputMode
      val recs = Warc.responses(Warc.plantPairedWarcs(docs(s, dir)))
      // Static side left UNMATERIALIZED (r19, measured): the incremental
      // planner does re-evaluate this subtree per micro-batch (~27 s
      // summed task time vs 3.5 s wall), but sharing it
      // measured a consistent LOSS in the interleaved A/B — B/A 0.98 at
      // 32 cores, 0.92 at 8 (5 reps each): the serial materialization
      // barrier delays the first batch more than the per-batch
      // re-evaluations cost, which overlap stream processing on
      // otherwise-idle cores (the p153 pre-populate lesson, §5).
      val imgs = Warc.withTargetUri(
        ImageHash.dhashSignatures(Warc.mediaPayloads(recs, "image")),
        recs, "image", "image_id", "img_url")
      val pages = Streams.documentsStream(s, dir)
        .select(col("doc_id").as("page_id"),
          Html.plantedPageWithFigures(col("doc_id"), col("text")).as("html"))
      Streams.runToMemory(
        Html.imageTextPairs(pages, "page_id", "html",
          imgs, "image_id", "img_url", "decoded"),
        name = "p149_mem", mode = OutputMode.Append())
        .select(col("page_id"), col("fig_idx"), col("image_id"),
          col("caption"), col("caption_lang"), col("n_caption_words"),
          col("kept"), col("decoded"))
        .orderBy(col("page_id"), col("fig_idx"))
    }),

    // ---- HARD-NEGATIVE mining for contrastive training (the CLIP
    // batch-construction problem): for each probe image, the nearest
    // OTHER images by perceptual distance that are NOT its near-dups —
    // a near-duplicate ranked as a negative is a false negative that
    // poisons the contrastive loss, so the probe's whole CC cluster is
    // excluded, not just the probe. Fixed probe panel vs the full
    // corpus is the brute-force ground-truth baseline (the p119 eval
    // class, PlanAudit-adjudicated); the production path bounds
    // candidates with the banded index and falls back to random
    // negatives when a band is empty. Oracle: dhash words + recursive
    // CC + the full hamming ranking, closed-form. ----
    "p150_hard_negatives" -> ((s, dir) => {
      val recs = Warc.responses(Warc.plantPairedWarcs(docs(s, dir)))
      // Share the slim signature table: it feeds the band pairs, the
      // CC seed AND the ranking join — unshared, each consumer re-runs
      // the WARC parse + PNG decode (the expensive stage). At
      // 100 TB you'd land signatures to parquet once for the same
      // reason (the p92 discipline).
      val sigs = Shared(ImageHash.dhashSignatures(
          Warc.mediaPayloads(recs, "image"))
        .filter(col("decoded"))
        .select(col("media_id"), col("dhash"), col("b0"), col("b1"),
          col("b2"), col("b3"), col("decoded")))
      val labels = Dedup.connectedComponents(
        sigs.select(col("media_id").as("id")),
        ImageHash.nearDupPairs(sigs, maxBucketSize = Long.MaxValue))
      val lab = sigs
        .join(labels.select(col("id").as("media_id"), col("cluster_id")),
          Seq("media_id"))
      val probes0 = lab.filter(col("media_id") % 64 === 0)
        .select(col("media_id").as("probe_id"),
          col("dhash").as("q_hash"), col("cluster_id").as("q_cluster"))
      // The theta join's sides carry no usable size estimates (shared +
      // CC-output lineage), so the panel, a corpus/64 sample, rides one
      // coalesced partition under the broadcast hint.
      val probes = probes0.coalesce(1)
      val cands = broadcast(probes).join(lab,
          col("media_id") =!= col("probe_id") &&
            col("cluster_id") =!= col("q_cluster"))
        .withColumn("dist",
          bit_count(col("q_hash").bitwiseXOR(col("dhash"))).cast("int"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("dist"), col("media_id"))
      // CC ran its actions eagerly, so the decode has already executed
      // ONCE into the shared rows; the returned plan's ranking join reads
      // those ~16-byte rows.
      cands.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("probe_id"), col("media_id").as("negative_id"),
          col("rn"), col("dist"))
        .orderBy(col("probe_id"), col("rn"))
    }),

    // ---- LANGUAGE-rebalanced pair mixture (the multilingual
    // rebalancing of a LAION-style pair corpus): the kept+resolved
    // pairs are temperature-sampled on caption_lang with the XLM-R
    // n^alpha rule — one |langs|-row driver exchange, keep fractions
    // rounded to 6 decimals, membership a pure hash of the minted
    // pair id (page_id*4 + fig_idx; fig_idx < 3 by construction, so
    // the mint is injective). The oracle replays the pair extraction,
    // the per-language counts, sqrt reweighting, and the hash cutoff
    // closed-form. ----
    "p151_pair_language_mixture" -> ((s, dir) => {
      // Shared parsed-WARC frame — the p142 rationale.
      val recs = Shared(Warc.responses(Warc.plantPairedWarcs(docs(s, dir))))
      val pages = Warc.htmlPages(recs)
      val imgs = Warc.withTargetUri(
        ImageHash.dhashSignatures(Warc.mediaPayloads(recs, "image")),
        recs, "image", "image_id", "img_url")
      val pairs = Html.imageTextPairs(pages, "page_id", "html",
          imgs, "image_id", "img_url", "decoded")
        .filter(col("kept") && col("decoded"))
        .withColumn("pair_id", col("page_id") * 4 + col("fig_idx"))
      Sampling.temperatureMixture(pairs, "caption_lang", "pair_id",
          budget = 120L, alpha = 0.5)
        .select(col("pair_id"), col("page_id"), col("fig_idx"),
          col("image_id"), col("caption_lang"))
        .orderBy(col("pair_id"))
    }),

    // ---- THREE-modality interleaved documents (p147 with figures of
    // every modality on one page): image, audio (direct src), and
    // video (direct-src OR nested-<source>) placements classified per
    // figure, kept text blocks between them — the any-modality
    // training document. Figure families are planted under their own
    // id rules (most pages carry a proper subset), so the oracle
    // appends image, then audio, then video items in document order
    // from the closed-form arithmetic. ----
    "p152_interleaved_multimodal" -> ((s, dir) => {
      // docsFanned — the p147 rationale (three-modality regex pass)
      val pages = docsFanned(s, dir)
        .select(col("doc_id"),
          Html.plantedPageWithAllFigures(col("doc_id"), col("text")).as("html"))
      Html.interleavedDoc(pages, "doc_id", "html", allModalities = true)
        .orderBy(col("page_id"), col("seq_idx"))
    }),

    // ---- DELETION PROPAGATION through the pair corpus (p140's
    // right-to-be-forgotten scrub for the multimodal product): a
    // delete list of image ids scrubs the pairs (anti-join), and the
    // canonical-image labels are REPAIRED with CC recomputed only over
    // clusters touching a deleted id (Dedup.propagateDeletes — deleting
    // a cluster's minimum relabels its survivors). Output = the p143
    // caption pools over the post-delete corpus; the oracle is a
    // FROM-SCRATCH rebuild over the survivors and must match the
    // incremental repair exactly. ----
    "p153_pair_deletion" -> ((s, dir) => {
      val recs = Shared(Warc.responses(Warc.plantPairedWarcs(docs(s, dir))))
      val pages = Warc.htmlPages(recs)
      // Shared (r18 optimization round, reversing the part-2 revert):
      // whole-invocation profiling showed 73 jobs / 147 s of summed task
      // time, ~10 of them full PNG-decode passes re-derived from the
      // cached WARC rows — propagateDeletes and the pair join each
      // re-evaluate the unpersisted signature lineage per action. Warm
      // same-window A/B (query profile, sf0.1 local[32]): unpersisted
      // 11.7 s wall / 147 s task time vs persisted (see below) — the
      // part-2 "persisted slower" reading was taken across a drifting
      // host window. Slim rows only (media_id, dhash bits, decoded).
      val sigs = Shared(ImageHash.dhashSignatures(
          Warc.mediaPayloads(recs, "image"))
        .filter(col("decoded")))
      // Residual task-time attribution (r19, measured, left as-is): the
      // first action here is CC's edge count over the banded self-join,
      // whose plan reads `sigs` three times (buckets + both exact-verify
      // sides). AQE materializes those exchanges CONCURRENTLY, and an
      // unpopulated cache is no barrier — each materialization finds a
      // cache miss and re-runs the WARC plant+parse+PNG-decode upstream
      // itself (query profile: five 3.8–10.7 s stages each re-reading the
      // 32 planted WARC groups; ~100 s summed task time against a ~45 s
      // single-pass inventory). A serial pre-populate (`sigs.count()`
      // before the first action) removes the redundant passes but was
      // measured SLOWER on wall: interleaved same-JVM ConfAb, 3 reps,
      // populate-on A=8.44 s vs populate-off B=7.44 s (B/A 0.88) — at
      // local[32] the concurrent duplicate passes land on otherwise-idle
      // cores, while the populate's single-chain pass is pure added
      // critical path. The redundancy costs CPU, not wall; rejected.
      // ndPairs shared too: both CC calls (labels0 and
      // propagateDeletes' touched-cluster CC) materialize their own
      // internal copy and release it on exit, so the banded-hamming
      // self-join otherwise runs twice.
      val ndPairs = Shared(
        ImageHash.nearDupPairs(sigs, maxBucketSize = Long.MaxValue))
      val labels0 = Dedup.connectedComponents(
        sigs.select(col("media_id").as("id")), ndPairs)
      val deletes = sigs.filter(col("media_id") % 12 === 0)
        .select(col("media_id").as("id"))
      val labels = Dedup.propagateDeletes(labels0, ndPairs, deletes)
      val imgs = Warc.withTargetUri(sigs, recs, "image",
        "image_id", "img_url")
      val pairs = Html.imageTextPairs(pages, "page_id", "html",
          imgs, "image_id", "img_url", "decoded")
        .filter(col("kept") && col("decoded"))
        .join(deletes.select(col("id").as("image_id")),
          Seq("image_id"), "left_anti")
      // the p143 sink discipline: the post-delete pool IS the refreshed
      // export; eager write, then the shared frames are released.
      captionPools(pairs, labels, "image_id", "canonical_image",
          Layout.sinkDir(s, "p153:" + dir))(
        Seq(recs, sigs, ndPairs).foreach(Shared.release))
    }),

    // ---- per-host PAIR-YIELD funnel (the p73 monitoring class for the
    // pair pipeline — the dashboard a crawl operator reads to decide
    // which hosts are worth fetching): pages → figures → resolved
    // (canonical-URL join landed + decoded) → caption-gated → English,
    // each stage counted per page host. Slim rows only (host, flags)
    // ever aggregate; the oracle recomputes every stage from the id
    // arithmetic (host = id % 13). ----
    "p154_pair_yield_funnel" -> ((s, dir) => {
      val recs = Warc.responses(Warc.plantPairedWarcs(docs(s, dir)))
      val pages = Warc.htmlPages(recs, urlCol = Some("page_url"))
      val imgs = Warc.withTargetUri(
        ImageHash.dhashSignatures(Warc.mediaPayloads(recs, "image")),
        recs, "image", "image_id", "img_url")
      val ph = pages.select(col("page_id"),
        Urls.hostOf(col("page_url")).as("host"))
      val pairsH = Html.imageTextPairs(pages, "page_id", "html",
          imgs, "image_id", "img_url", "decoded")
        .join(ph, Seq("page_id"))
      val st0 = ph.groupBy(col("host"))
        .agg(count(lit(1)).as("n_pages"))
      val st = pairsH.groupBy(col("host"))
        .agg(count(lit(1)).as("n_figures"),
          sum(when(col("decoded"), 1L).otherwise(0L)).as("n_resolved"),
          sum(when(col("decoded") && col("kept"), 1L).otherwise(0L))
            .as("n_kept"),
          sum(when(col("decoded") && col("kept") &&
            col("caption_lang") === "en", 1L).otherwise(0L)).as("n_en"))
      st0.join(st, Seq("host"), "left")
        .select(col("host"), col("n_pages"),
          coalesce(col("n_figures"), lit(0L)).as("n_figures"),
          coalesce(col("n_resolved"), lit(0L)).as("n_resolved"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("n_en"), lit(0L)).as("n_en"))
        .orderBy(col("host"))
    }),

    // ---- the AUDIO paired capstone (p143's LAION chain for the
    // AudioCaps shape): WARC → route → <audio>-figure pair extraction →
    // caption gate → REAL WAV decode → perceptual clip dedup
    // (fingerprint + CC under the (id/12)*12 copy rule) → captions
    // aggregated per CANONICAL CLIP — one row per unique clip with its
    // caption pool, landed through the curated sink. Oracle: planted
    // pairs + fingerprint words + recursive CC, all closed-form. ----
    "p155_audio_paired_capstone" -> ((s, dir) => {
      val recs =
        Shared(Warc.responses(Warc.plantAudioPairedWarcs(docs(s, dir))))
      val pages = Warc.htmlPages(recs)
      val sigs = Shared(AudioHash.fingerprints(
        Warc.mediaPayloads(recs, "audio")))
      val clips = Warc.withTargetUri(sigs, recs, "audio",
        "audio_id", "clip_url")
      val pairs = Html.audioTextPairs(pages, "page_id", "html",
          clips, "audio_id", "clip_url", "decoded")
        .filter(col("kept") && col("decoded"))
      // uncapped pairs: oracle equality (the p91/p143 reasoning)
      val labels = Dedup.uncappedClusters(sigs,
        (d, cap) => AudioHash.nearDupPairs(d, maxBucketSize = cap))
      captionPools(pairs, labels, "audio_id", "canonical_clip",
          Layout.sinkDir(s, "p155:" + dir))(Shared.release(recs))
    }),

    // ---- the VIDEO paired capstone (the WebVid-shape end of the
    // matrix — every modality now has extraction, streaming-or-capstone
    // and dedup closure): WARC → magic-byte video rescue → <video>-
    // figure pair extraction (both markup parities) → caption gate →
    // REAL GIF demux+decode → temporal fingerprint dedup (majority-fold
    // dHash + CC under the (id/10)*10 copy rule) → captions per
    // canonical clip through the curated sink. ----
    "p156_video_paired_capstone" -> ((s, dir) => {
      val recs =
        Shared(Warc.responses(Warc.plantVideoPairedWarcs(docs(s, dir))))
      val pages = Warc.htmlPages(recs)
      val sigs = Shared(VideoHash.fingerprints(
        Warc.mediaPayloads(recs, "video"),
        everyN = 2))
      val clips = Warc.withTargetUri(sigs, recs, "video",
        "video_id", "clip_url")
      val pairs = Html.videoTextPairs(pages, "page_id", "html",
          clips, "video_id", "clip_url", "decoded")
        .filter(col("kept") && col("decoded"))
      val labels = Dedup.uncappedClusters(sigs,
        (d, cap) => VideoHash.nearDupPairs(d, maxBucketSize = cap))
      captionPools(pairs, labels, "video_id", "canonical_clip",
          Layout.sinkDir(s, "p156:" + dir))(Shared.release(recs))
    }),

    // ---- MIXED-modality pair router (one crawl, three pair
    // products): pages carry ALL THREE figure families and the segment
    // carries every modality's media records — parse ONCE, route by
    // Content-Type/magic, decode each modality with its real codec,
    // and extract all three pair streams in one pass. fig_idx is the
    // PAGE-WIDE figure position (spec-pinned in HtmlSpec's
    // mixed-modality routing case), so the three outputs interleave
    // consistently. The oracle unions the three closed-form pair twins
    // with the page-wide index arithmetic. ----
    "p157_mixed_pair_router" -> ((s, dir) => {
      val recs =
        Shared(Warc.responses(Warc.plantAllPairedWarcs(docs(s, dir))))
      val pages = Warc.htmlPages(recs)
      def mediaOf(kind: String, idCol: String) = {
        val m = Warc.mediaPayloads(recs, kind)
        val sigs = kind match {
          case "image" => ImageHash.dhashSignatures(m)
          case "audio" => AudioHash.fingerprints(m)
          case _ => VideoHash.fingerprints(m, everyN = 2)
        }
        Warc.withTargetUri(sigs, recs, kind, idCol, "m_url")
      }
      def shaped(df: DataFrame, idCol: String, modality: String) =
        df.select(lit(modality).as("modality"), col("page_id"),
          col("fig_idx"), col(idCol).as("media_id"), col("caption"),
          col("caption_lang"), col("n_caption_words"), col("kept"),
          col("decoded"))
      // Shared figure spans (r19, guide §2.4 shared evaluation): the
      // <figure> splitter regex scans the FULL page HTML and is
      // tag-agnostic — identical across the three modality branches —
      // so without a cut each branch re-scanned every page's HTML
      // (query profile: three ~5-9 s 32-task figure stages out of six
      // heavy leaf stages / ~50 s summed task time). Exploded spans are
      // figure SNIPPETS (captions + media tags, not whole pages).
      val spans = Shared(Html.figureSpans(pages, "page_id", "html"))
      shaped(Html.imageTextPairsFrom(spans,
          mediaOf("image", "image_id"), "image_id", "m_url", "decoded"),
          "image_id", "image")
        .unionByName(shaped(Html.audioTextPairsFrom(spans,
          mediaOf("audio", "audio_id"), "audio_id", "m_url", "decoded"),
          "audio_id", "audio"))
        .unionByName(shaped(Html.videoTextPairsFrom(spans,
          mediaOf("video", "video_id"), "video_id", "m_url", "decoded"),
          "video_id", "video"))
        .orderBy(col("modality"), col("page_id"), col("fig_idx"))
    })
  )

  /** Shared sample parameter of the sampled-trainer family
    * (p135/p136): the deterministic hash-sample keeps ids whose
    * [[graft.operators.Sampling.bucketHash]] falls under fraction·2^32.
    * `PipelineOracles.SampledTrainSql` is the DuckDB twin of that
    * predicate.
    */
  private[queries] val SampledTrainFraction = 0.5

  private def kmSampledModel(s: SparkSession, dir: String)
      : KMeans.Model =
    AppState.memo(s, "kmSampledModel", dir)(
      KMeans.train(emb(s, dir), "vec_id", "embedding",
        k = 16, dim = 64, iters = KmIters,
        sampleFraction = SampledTrainFraction))

  private def pqSampledModel(s: SparkSession, dir: String)
      : Pq.TrainedPq =
    AppState.memo(s, "pqSampledModel", dir)(
      Pq.train(emb(s, dir), "vec_id", "embedding",
        iters = KmIters, sampleFraction = SampledTrainFraction))

  /** The DRIFTED corpus of the rebuild family (p139): the base vectors
    * plus their [[freshVectors]], embeddings the original training never
    * saw, i.e. distribution drift.
    */
  private def driftedFrame(s: SparkSession, dir: String): DataFrame = {
    val base = validEmb64(s, dir)
    base.unionByName(freshVectors(base))
  }

  /** The REBUILT models: coarse + PQ retrained from scratch on the
    * drifted corpus (the retrain half of the p125 health loop — rising
    * reconstruction error means the codebooks no longer fit; the fix is
    * retrain + re-encode + swap, not patching the old model).
    */
  private def rebuiltModels(s: SparkSession, dir: String)
      : (KMeans.Model, Pq.TrainedPq) =
    AppState.memo(s, "rebuiltModels", dir) {
      val d = driftedFrame(s, dir)
      (KMeans.train(d, "vec_id", "embedding",
        k = 16, dim = 64, iters = KmIters),
        Pq.train(d, "vec_id", "embedding", iters = KmIters))
    }

  /** p139's SWAPPED index: the drifted corpus re-encoded under the
    * REBUILT models and landed to a fresh versioned directory (`v2` —
    * the old landed index, p121's fixture, stays untouched until the
    * serve path flips to the new root: the atomic-swap deployment
    * shape). Built once per (application, fixture dir); deterministic
    * contents, oracle-independent (the p121Fixture discipline).
    */
  private def p139Fixture(s: SparkSession, dir: String): String =
    AppState.memo(s, "p139Fixture", dir) {
      val root = Layout.sinkDir(s, "p139fixture:" + dir) + "/v2"
      val (km2, pq2) = rebuiltModels(s, dir)
      val d = driftedFrame(s, dir)
      val live = if (pq2.codebook.isEmpty) d.limit(0) else d
      indexRows(live, km2, pq2).write.mode("overwrite").parquet(root)
      root
    }

  /** Fixture contract of the planted-duplicate vector families
    * (p120/p130/p133/p134): their re-ingested copies mint ids at fixed
    * decimal offsets (+1e6 … +6e6), so corpus ids must stay below 1e6
    * or the planted groups would collide with real ids — silently, and
    * identically in the oracle twin (ADVICE r17). Asserted once per
    * (application, fixture dir): one max() over the id column (a
    * column-pruned scan, memoized like [[Queries.embCount]]), failing
    * LOUDLY instead of corrupting both engines the same way. A fixture
    * that legitimately outgrows 1e6 ids should move these families to
    * the high-bit offset scheme ([[CopyIdOffset]]).
    */
  private def plantedIdGuard(s: SparkSession, dir: String): Unit = {
    val mx = AppState.memo(s, "maxVecId", dir) {
      val r = emb(s, dir).agg(max(col("vec_id"))).collect()(0)
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }
    require(mx < 1000000L,
      s"planted-copy id offsets (+1e6..+6e6) collide with corpus ids: " +
        s"max vec_id=$mx in $dir")
  }

  /** One trained PQ codebook per (application, fixture dir) — p117/p118
    * share it.
    */
  private def pqModel(s: SparkSession, dir: String)
      : Pq.TrainedPq =
    AppState.memo(s, "pqModel", dir)(
      Pq.train(emb(s, dir), "vec_id", "embedding",
        iters = KmIters))

  /** One trained classifier weight broadcast per (application, fixture
    * dir) — p116 (and any cascade built on it) shares it.
    */
  private def ftModel(s: SparkSession, dir: String)
      : org.apache.spark.broadcast.Broadcast[Array[Int]] =
    AppState.memo(s, "ftModel", dir)(
      s.sparkContext.broadcast(graft.functions.FastText.train(
        docs(s, dir), TF.normText(col("text")), col("lang") === "en")))

  /** k-means iteration count for the p106–p109 family: fixed and small
    * so the oracle can unroll the training replay; enough iterations to
    * make the descent curve and empty-cell carry observable.
    */
  private[queries] val KmIters = 3

  /** One trained coarse model per (application, fixture dir) — p106–
    * p109 share it (training runs once).
    */
  private def kmModel(s: SparkSession, dir: String)
      : KMeans.Model =
    AppState.memo(s, "kmModel", dir)(
      KMeans.train(emb(s, dir), "vec_id", "embedding",
        k = 16, dim = 64, iters = KmIters))

  /** The trained-IVF-PQ top-5 plan shared by p109 (which reports it) and
    * p119 (which measures its recall): corpus vectors PQ-encoded and
    * assigned to trained coarse cells, the query panel probing its 4
    * nearest trained cells, ADC over the broadcast LUT inside WSCG, and
    * a per-query window top-5 — deterministic ordering by (adc, vec_id).
    * Columns: qid, vec_id, rn (int), adc (unrounded double).
    */
  private def trainedIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val m = kmModel(s, dir)
    val e = validEmb(s, dir)
    def dl = KMeans.dists(col("embedding"), m)
    val codes = e.select(col("vec_id"),
      Pq.encode(col("embedding")).getField("code").as("pq_code"),
      KMeans.nearest(dl).cast("int").as("cell"))
    val qs = probePanel(e.filter(col("vec_id") % 50 === 0), dl,
      Pq.lut(col("embedding")).as("lut"), "lut")
    adcTop5(codes.join(broadcast(qs), Seq("cell")))
  }

  /** The trained coarse centroids as a k-row (cell, cv double[]) frame
    * — the broadcast side of residual computation (16 rows; a model is
    * data on the wire).
    */
  private def kmCentroidsDf(s: SparkSession,
      m: KMeans.Model): DataFrame = {
    import s.implicits._
    (0 until m.k).map(c => (c,
      (0 until m.dim).map(j => m.centroids(c * m.dim + j))))
      .toDF("cell", "cv")
  }

  /** (vec_id, cell, resv float[]) — every valid vector's residual
    * against its TRAINED coarse centroid, float-cast per element (one
    * IEEE round-to-nearest, replayed by the oracle as
    * `CAST(x::DOUBLE - cv AS FLOAT)`), so the residual frame feeds the
    * SAME float-array PQ trainer/encoder as raw vectors — the FAISS
    * IndexIVFPQ `by_residual` layout with trained layers (p105's
    * planted counterpart).
    */
  private def residualFrame(s: SparkSession, dir: String): DataFrame = {
    val km = kmModel(s, dir)
    val e = validEmb(s, dir)
    def dl = KMeans.dists(col("embedding"), km)
    e.select(col("vec_id"), col("embedding"),
        KMeans.nearest(dl).cast("int").as("cell"))
      .join(broadcast(kmCentroidsDf(s, km)), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("cv"),
          (x, c) => (x.cast("double") - c).cast("float")).as("resv"))
  }

  /** One trained RESIDUAL product quantizer per (application, fixture
    * dir) — trained on [[residualFrame]] with the same Lloyd schedule
    * as the raw-vector model.
    */
  private def resPqModel(s: SparkSession, dir: String)
      : Pq.TrainedPq =
    AppState.memo(s, "resPqModel", dir)(
      Pq.train(residualFrame(s, dir), "vec_id", "resv",
        iters = KmIters))

  /** p121's landed index state: (vec_id, cell, pq_code) for every
    * corpus vector OUTSIDE the daily batch (vec_id % 17 = 3), under the
    * TRAINED coarse + PQ models — built once per (application, fixture
    * dir) under the conf-rooted sink (the p92Fixture discipline). The
    * contents are fully deterministic (deterministic trainings over the
    * same corpus), so re-materialization across JVMs is byte-stable;
    * the oracle re-derives everything from SQL, keeping the
    * differential check independent of this cache.
    */
  private def p121Fixture(s: SparkSession, dir: String): String =
    AppState.memo(s, "p121Fixture", dir) {
      val root = Layout.sinkDir(s, "p121fixture:" + dir)
      val km = kmModel(s, dir)
      val pq = pqModel(s, dir)
      val e = validEmb(s, dir)
        .filter(col("vec_id") % 17 =!= 3)
      val base = if (pq.codebook.isEmpty) e.limit(0) else e
      indexRows(base, km, pq)
        .write.mode("overwrite").parquet(root)
      root
    }

  /** BPE merge budget for p110/p111: fixed and small so the oracle can
    * unroll the per-rank replay; large enough that multi-char symbols
    * merge with each other (rank ≥ 3 typically pairs a merged symbol).
    */
  private[queries] val BpeBudget = 8

  /** One trained merge table per (application, fixture dir) — p110/p111
    * share it.
    */
  private def bpeModel(s: SparkSession, dir: String)
      : graft.operators.BpeTrain.Model =
    AppState.memo(s, "bpeModel", dir)(
      BpeTrain.train(BpeTrain.wordVocab(docs(s, dir), col("text")),
        BpeBudget))

  /** Mixed-shape planted audio corpus: 8-bit unsigned mono for even ids,
    * 16-bit signed LE mono/stereo for odd — the p82 fixture (both real
    * decode paths in one fingerprint query, ids disjoint by parity).
    * NOT used by the pair queries: both legacy sample rules are LINEAR
    * walks (built for decode-stat oracles), whose energy profiles are
    * near-monotone sawtooths — at sf0.1 they mint ~90k structurally-
    * similar fingerprint pairs, i.e. the fixture, not the operator,
    * dominates. p83/p84 plant [[Multimodal.plantWavsFp]] instead.
    */
  private def mixedWavs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Multimodal.plantWavs(d.filter(col("doc_id") % 2 === 0))
      .unionByName(Multimodal.plantWavs16(d.filter(col("doc_id") % 2 =!= 0)))
  }

  /** p92's landed refresh-loop state: corpus signature + settled-label
    * parquet and the batch signatures, under the conf-rooted sink (the
    * p86 convention), built once per application per fixture dir. The
    * expensive part — the PNG plant+decode and the full corpus CC — runs
    * in this builder, not in the query: a production refresh admits
    * against state already on disk. Contents are fully deterministic (planted
    * corpus + uncapped pairs), so re-materialization across JVMs is
    * byte-stable; the oracle still re-derives everything from the
    * fixture SQL, keeping the differential check independent of this
    * cache.
    */
  private case class P92Fixture(corpusSigs: String, corpusLabels: String,
                                batchSigs: String)

  private def p92Fixture(s: SparkSession, dir: String): P92Fixture =
    AppState.memo(s, "p92Fixture", dir) {
      val root = Layout.sinkDir(s, "p92fixture:" + dir)
      val d = docs(s, dir)
      val base = Multimodal.plantPngsFp(d)
      ImageHash.dhashSignatures(withCopies(base)(Multimodal.resizePooled(_, 1)))
        .write.mode("overwrite").parquet(root + "/corpus_sigs")
      // settled labels: the p81 chain (uncapped — oracle equality),
      // computed from the landed sigs so the decode runs exactly once.
      val sigs = s.read.parquet(root + "/corpus_sigs")
      Dedup.uncappedClusters(sigs,
        (d, cap) => ImageHash.nearDupPairs(d, maxBucketSize = cap))
        .write.mode("overwrite").parquet(root + "/corpus_labels")
      val batchCopies = Multimodal.resizePooled(
          base.filter(col("media_id") % 7 === 0), 1)
        .withColumn("media_id", col("media_id") + FreshIdOffset)
      val fresh = Multimodal.plantPngsFp(
        d.filter(col("doc_id") % 7 === 3)
          .select((col("doc_id") + Fresh2IdOffset).as("doc_id")))
      ImageHash.dhashSignatures(batchCopies.unionByName(fresh))
        .write.mode("overwrite").parquet(root + "/batch_sigs")
      P92Fixture(root + "/corpus_sigs", root + "/corpus_labels",
        root + "/batch_sigs")
    }

}
