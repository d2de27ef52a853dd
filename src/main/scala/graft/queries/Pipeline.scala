package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shared

import graft.engine.{AppState, Tables}
import graft.functions.{HashExpressions, TextFunctions => TF}
import graft.operators.{AudioHash, BpeTrain, Dedup, Html, ImageHash, Layout, Mp4Meta, Multimodal, Profile, Quantize, Sampling, Similarity, TextOps, Urls, VideoHash, Warc}

/** LLM-training-data pipeline query corpus (beyond the reference's own
  * surface, mandated by BASELINE.json): dedup family, similarity search,
  * text analysis, multimodal binary plumbing.
  *
  * Oracle policy: everything deterministic and SQL-expressible gets a DuckDB
  * oracle (exact dedup, jaccard, text stats, quality, lang-id, brute-force
  * cosine top-k, multimodal byte stats). Sketch-hash operators whose hash
  * functions can't be reproduced in DuckDB SQL are verified two ways:
  *  - p08 emits EXACT shingle-jaccard over LSH candidates, which equals the
  *    all-pairs answer (candidate recall ≈ 1 - 1e-13 at the emit threshold,
  *    see [[graft.operators.Dedup.nearDupPairs]]) — full DuckDB oracle.
  *  - p09/p11 emit deterministic invariants a DuckDB oracle can derive
  *    (near-dup pairs have low simhash hamming; every vector lands in
  *    exactly one in-range LSH bucket).
  *  - p12 (ANN) uses axis-aligned LSH buckets (sign of coordinate b), a
  *    bucketing DuckDB can recompute, so the oracle derives the exact
  *    candidate set and the approximate top-k is verified bit-for-bit —
  *    a differential test of the whole ANN path, not just invariants.
  *    The seeded random-hyperplane variant keeps its recall property test
  *    in SimilaritySpec.
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

  /** TEST-ONLY gate-sensitivity hook (`GRAFT_MUTATE=1`, set ONLY by
    * `tools/mutation_check.sh`): deliberately miscompiles two queries —
    * p66's amp_sum cast to double (the dtype-class path) and p72's
    * n_params_kept off by one (the value/hash path) — so the differential
    * harness is itself differentially tested: check.py MUST go red on
    * both. Never set in any driver, bench, or CI path; the default
    * (unset) compiles the correct queries.
    */
  /** Offset minting re-encoded-copy media ids next to their base corpus
    * (p75/p81): a single high bit rather than a decimal constant, so copy
    * ids are provably disjoint from any realistic doc_id range (a 100 TB
    * corpus is ~2^40 docs away) instead of colliding silently once
    * doc_id >= the old 100000.
    */
  private val CopyIdOffset = 1L << 40

  /** Second disjoint id space: FRESH batch items (no corpus counterpart)
    * in the incremental-refresh fixtures (p88, p92 batch copies).
    */
  private val FreshIdOffset = 1L << 41

  /** Third disjoint id space (bits 40+41): p92's fresh batch items,
    * disjoint from base ids, corpus copies (2^40) AND batch copies
    * (2^41) at any corpus scale.
    */
  private val Fresh2IdOffset = 3L << 40

  /** Fourth disjoint id space (bit 42): p112's derived sub-clip ids
    * (the third chain level of the containment-survivor fixture).
    */
  private val SubIdOffset = 1L << 42

  /** Fifth disjoint id space (bit 43): p113's incremental-containment
    * batch ids (slices + copies).
    */
  private val BatchSeqIdOffset = 1L << 43

  private def mutateGate: Boolean =
    sys.env.get("GRAFT_MUTATE").contains("1") ||
      sys.props.get("graft.mutate").contains("1")

  // DuckDB twin of TF.normText.
  private val oNorm = "trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))"
  private val oToks = s"string_split($oNorm, ' ')"

  // DuckDB twin of Html.plantHtml: the planted page rebuilt as a pure
  // string function of (id, toks) — shared CTE prefix of p70/p71.
  private val oHtmlCtes =
    s"""WITH t AS (SELECT doc_id AS id, $oToks AS toks FROM documents),
      b AS (SELECT id, toks, len(toks) AS n,
              (len(toks) + 11) // 12 AS np FROM t),
      h AS (SELECT id,
        '<html><head><title>doc ' || id ||
        '</title><style>.m{color:#000}</style><script type="text/javascript">var d='
        || id || ';track(d*3 > 2 && d < 9);</script></head><body>'
        || '<nav>' || array_to_string(list_transform(range(0, 1 + id % 4),
             j -> '<a href="/nav/' || j || '">nav item ' || j || '</a>'), ' ')
        || '</nav>'
        || '<h1>doc ' || id || ' &amp; heading &lt;x&gt;</h1>'
        || CASE WHEN np >= 1 THEN array_to_string(list_transform(range(0, np),
             i -> '<p>' || CASE WHEN (id + i) % 5 = 0
               THEN '<a href="/r/' || i || '">' || toks[cast(i*12+1 AS integer)]
                    || '</a>' ||
                    CASE WHEN len(list_slice(toks, i*12+2, i*12+12)) > 0
                      THEN ' ' || array_to_string(list_slice(toks, i*12+2, i*12+12), ' ')
                      ELSE '' END
               ELSE array_to_string(list_slice(toks, i*12+1, i*12+12), ' ') END
             || '</p>'), '') ELSE '' END
        || '<footer><a href="/p">privacy policy</a> <a href="/t">terms of use</a> &amp; <a href="/c">contact</a></footer></body></html>'
          AS html
      FROM b)"""

  // DuckDB twin of Html.htmlToText over an input expression: script/style
  // subtree removal, tag strip, entity decode (&amp; LAST — single
  // decode), whitespace collapse. RE2 here vs Java regex on the Spark
  // side — a genuine cross-engine differential.
  private def oHtmlStrip(x: String): String =
    s"""trim(regexp_replace(replace(replace(replace(replace(replace(replace(
       regexp_replace(regexp_replace(regexp_replace($x,
         '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
         '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
         '<[^>]*>', ' ', 'g'),
       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
       '&nbsp;', ' '), '&amp;', '&'),
       '\\s+', ' ', 'g'))"""

  // DuckDB twin of Html.anchorChars (tag name boundary-anchored, ADVICE r13).
  private def oAnchorChars(x: String): String =
    s"cast(coalesce(list_sum(list_transform(regexp_extract_all($x, " +
      """'(?s)<a(?:\s[^>]*)?>(.*?)</a>', 1), a -> length(a))), 0) AS bigint)"""

  // DuckDB twin of Html.blockExtract over the oHtmlCtes `h` relation:
  // appends bl/r/k CTEs ending in per-id (n_blocks, kept block structs).
  private val oBlockCtes =
    s"""bl AS (SELECT id, regexp_extract_all(html,
         '(?s)<(?:p|h1|nav|footer)(?:\\s[^>]*)?>.*?</(?:p|h1|nav|footer)\\s*>') AS bs
       FROM h),
    r AS (SELECT id, len(bs) AS n_blocks,
            list_transform(bs, bk -> struct_pack(
              t := ${oHtmlStrip("bk")},
              a := ${oAnchorChars("bk")})) AS raw
          FROM bl),
    k AS (SELECT id, n_blocks,
            list_filter(raw, rr ->
              rr.a * 1000000 // greatest(length(rr.t), 1) < 500000
              AND (CASE WHEN rr.t = '' THEN 0
                   ELSE len(string_split(rr.t, ' ')) END) >= 3) AS kept
          FROM r)"""

  // DuckDB twin of Urls.plantUrls + Urls.withCanonical (sans the window):
  // CTE chain ending in `f` with (id, url, host, canon_url, n_params_kept).
  private val oUrlCtes =
    s"""base AS (SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN ['b=2','a=1']
               WHEN doc_id % 3 = 1 THEN ['a=1']
               ELSE cast([] AS varchar[]) END AS bp
        FROM documents),
    qs AS (SELECT doc_id, coalesce(array_to_string(
             CASE WHEN doc_id % 9 = 0
               THEN list_concat(bp, ['utm_source=x','utm_campaign=y'])
               ELSE bp END, '&'), '') AS q FROM base),
    u0 AS (SELECT doc_id AS id,
        (CASE WHEN doc_id % 7 = 0 THEN 'HTTPS' ELSE 'https' END)
        || '://WWW.Site' || (doc_id % 13) || '.Example.COM'
        || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
        || '/cat' || (doc_id % 3) || '/item' || (doc_id % 11)
        || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
        || (CASE WHEN q = '' THEN '' ELSE '?' || q END)
        || (CASE WHEN doc_id % 2 = 0 THEN '#sec' || (doc_id % 6) ELSE '' END)
          AS url
      FROM qs),
    c AS (SELECT id, url, regexp_replace(url, '#.*', '') AS nofrag FROM u0),
    p AS (SELECT id, url,
        lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
          AS scheme,
        regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)
          AS hostport,
        regexp_extract(nofrag,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
        regexp_extract(nofrag, '\\?([^#]*)', 1) AS rawq
      FROM c),
    n AS (SELECT id, url, scheme,
        regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
        regexp_replace(regexp_replace(lower(hostport), ':[0-9]+$$', ''),
          '^www\\.', '') AS host,
        CASE WHEN regexp_replace(rawpath, '/+$$', '') = '' THEN '/'
             ELSE regexp_replace(rawpath, '/+$$', '') END AS path,
        list_sort(list_filter(string_split(rawq, '&'),
          x -> x <> '' AND NOT starts_with(x, 'utm_'))) AS prms
      FROM p),
    f AS (SELECT id, url, host,
        scheme || '://' || host ||
        (CASE WHEN port <> '' AND NOT (scheme = 'https' AND port = '443')
              AND NOT (scheme = 'http' AND port = '80')
          THEN ':' || port ELSE '' END)
        || path ||
        (CASE WHEN len(prms) > 0 THEN '?' || array_to_string(prms, '&')
         ELSE '' END) AS canon_url,
        cast(len(prms) AS integer) AS n_params_kept
      FROM n)"""

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
      HashExpressions.register(s)
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
      HashExpressions.register(s)
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
      HashExpressions.register(s)
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
    // graph (iterative distributed min-label propagation); the oracle
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
      HashExpressions.register(s)
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
    // embedding near-dup graph (axis-sign LSH pairs -> generic min-label
    // propagation). The approximate pair graph is SQL-recomputable, so the
    // oracle re-derives buckets, probes, cosines AND the components
    // (recursive CTE) — the whole embedding-dedup path verified end-to-end ----
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

    // ---- sequential ingest semantics (the batch contract of
    // streaming/Streams.dedupIngest, which StreamingSpec proves the
    // foreachBatch stream implements): batch 0 = even doc_ids greedily
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
    // chain (successor-id edges): diameter 199 ≫ any propagation budget, so
    // this exercises the O(log²)-round large-star/small-star path — the
    // scale fallback — under full differential verification (the oracle
    // re-derives components by recursive reachability, like p32). The
    // hybrid driver-finisher is disabled (threshold 0, scoped to a child
    // session) so the distributed rounds themselves stay oracle-gated;
    // production callers get the hybrid by default. ----
    "p38_star_components" -> ((s0, dir) => {
      val s = s0.newSession()
      s.conf.set("spark.graft.cc.localEdgeThreshold", "0")
      val n = docs(s, dir).select(col("doc_id").as("id"))
        .filter(col("id") < 200)
      val pairs = n.select(col("id").as("id_a"))
        .join(n.select(col("id").as("id_b")), col("id_b") === col("id_a") + 1)
      Dedup.connectedComponentsStar(n, pairs)
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
    "p66_audio16_decode" -> ((s, dir) => {
      // amp_sum double-cast under GRAFT_MUTATE: the dtype-class mutation
      // tools/mutation_check.sh asserts the gate catches.
      val amp =
        if (mutateGate) col("amp_sum").cast("double") else col("amp_sum")
      Multimodal.decodeAudioFeatures(Multimodal.plantWavs16(docs(s, dir)))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_frames"), amp.as("amp_sum"), col("decoded"))
        .orderBy(col("media_id"))
    }),

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
    "p72_url_canonicalize" -> ((s, dir) => {
      val base = Urls.withCanonical(Urls.plantUrls(docs(s, dir), "doc_id"),
        "id", "url")
      // n_params_kept off by one under GRAFT_MUTATE: the value/hash-path
      // mutation tools/mutation_check.sh asserts the gate catches.
      val out =
        if (mutateGate)
          base.withColumn("n_params_kept", col("n_params_kept") + 1)
        else base
      out.orderBy(col("id"))
    }),

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
      import org.apache.spark.sql.expressions.Window
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
      val base = Multimodal.plantPngsFp(docs(s, dir))
      val copies = Multimodal
        .resizePooled(base.filter(col("media_id") % 5 === 0), 1)
        .withColumn("media_id", col("media_id") + CopyIdOffset)
      // maxBucketSize explicit: the all-pairs oracle equality below is the
      // point of this query, so the scale cap (default 1000) must be a
      // no-op here by construction, not by fixture luck.
      // Sharing the signatures measured NEUTRAL here (ConfAb 0.97/1.01
      // over 8 reps): pairs-only shape, 3 reads, no CC consumer — left raw.
      ImageHash.nearDupPairs(
          ImageHash.dhashSignatures(base.unionByName(copies)),
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
      import org.apache.spark.sql.expressions.Window
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
      graft.functions.Bpe.register(s)
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
      graft.functions.Bpe.register(s)
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
      import org.apache.spark.sql.expressions.Window
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
      val base = Multimodal.plantPngsFp(docs(s, dir))
      val copies = Multimodal
        .resizePooled(base.filter(col("media_id") % 5 === 0), 1)
        .withColumn("media_id", col("media_id") + CopyIdOffset)
      val sigs = Shared(ImageHash.dhashSignatures(base.unionByName(copies)))
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
      val base = Multimodal.plantWavsFp(docs(s, dir))
      val copies = Multimodal
        .resampleAudioDecimated(base.filter(col("media_id") % 5 === 0), 1)
        .withColumn("media_id", col("media_id") + CopyIdOffset)
      // maxBucketSize explicit: all-pairs oracle equality is the point,
      // so the scale cap (default 1000) must be a no-op by construction.
      AudioHash.nearDupPairs(
          Shared(AudioHash.fingerprints(base.unionByName(copies))),
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
      val base = Multimodal.plantWavsFp(docs(s, dir))
      val copies = Multimodal
        .resampleAudioDecimated(base.filter(col("media_id") % 5 === 0), 1)
        .withColumn("media_id", col("media_id") + CopyIdOffset)
      val sigs = Shared(AudioHash.fingerprints(base.unionByName(copies)))
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
      import org.apache.spark.sql.expressions.Window
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
      graft.functions.Bpe.registerBig(s)
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
      val base = Multimodal.plantGifsFp(docs(s, dir))
      val copies = Multimodal.resizeVideoPooled(
          base.filter(col("media_id") % 5 === 0), 1)
        .withColumn("media_id", col("media_id") + CopyIdOffset)
      // maxBucketSize explicit: all-pairs oracle equality is the point.
      // Sharing the signatures measured NEUTRAL here (ConfAb 1.04) —
      // pairs-only shape.
      VideoHash.nearDupPairs(
          VideoHash.fingerprints(base.unionByName(copies), everyN = 2),
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
      val base = Multimodal.plantGifsFp(docs(s, dir))
      val copies = Multimodal.resizeVideoPooled(
          base.filter(col("media_id") % 5 === 0), 1)
        .withColumn("media_id", col("media_id") + CopyIdOffset)
      val sigs = Shared(VideoHash.fingerprints(base.unionByName(copies),
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
      import org.apache.spark.sql.expressions.Window
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
      graft.functions.FastText.register(s)
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
      graft.functions.FastText.register(s)
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
      val pq = graft.functions.Pq.encode(col("embedding"))
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
      import org.apache.spark.sql.expressions.Window
      val P = graft.functions.Pq
      val e = emb(s, dir)
      val codes = e.select(col("vec_id"),
        P.encode(col("embedding")).getField("code").as("pq_code"))
      val qs = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), P.lut(col("embedding")).as("lut"))
      // ADC = Σ_m lut[m*16 + code_m] with left-assoc (m-ascending)
      // addition — the oracle's `list_sum(list(d ORDER BY m))` order.
      val adc = (0 until P.M).map { m =>
        element_at(col("lut"),
          (lit(m * P.K + 1) + shiftright(col("pq_code"), 4 * m)
            .bitwiseAND(lit(15L))).cast("int"))
      }.reduce(_ + _)
      codes.join(broadcast(qs))
        .withColumn("adc", adc)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), col("rn").cast("long").as("rn"),
          round(col("adc"), 6).as("adc"))
        .orderBy(col("qid"), col("rn"))
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
      import org.apache.spark.sql.expressions.Window
      val P = graft.functions.Pq
      val e = emb(s, dir)
      def dl = P.coarseDists(col("embedding"))
      val codes = e.select(col("vec_id"),
        P.encode(col("embedding")).getField("code").as("pq_code"),
        (array_position(dl, array_min(dl)) - 1).cast("int").as("cell"))
      val qs = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), P.lut(col("embedding")).as("lut"),
          slice(sort_array(transform(dl,
            (d, l) => struct(d.as("d"), l.as("l")))), 1, 4).as("probes"))
        .select(col("qid"), col("lut"),
          explode(col("probes")).as("probe"))
        .select(col("qid"), col("lut"), col("probe.l").as("cell"))
      val adc = (0 until P.M).map { m =>
        element_at(col("lut"),
          (lit(m * P.K + 1) + shiftright(col("pq_code"), 4 * m)
            .bitwiseAND(lit(15L))).cast("int"))
      }.reduce(_ + _)
      codes.join(broadcast(qs), Seq("cell"))
        .withColumn("adc", adc)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), col("rn").cast("long").as("rn"),
          round(col("adc"), 6).as("adc"))
        .orderBy(col("qid"), col("rn"))
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
      graft.functions.Bpe.registerBig(s)
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
      import org.apache.spark.sql.expressions.Window
      val P = graft.functions.Pq
      val e = emb(s, dir)
      val enc = P.residualEncode(col("embedding"))
      val codes = e.select(col("vec_id"),
        enc.getField("cell").as("cell"),
        enc.getField("code").as("pq_code"))
      val dl = P.coarseDists(col("embedding"))
      val qs = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding"),
          slice(sort_array(transform(dl,
            (d, l) => struct(d.as("d"), l.as("l")))), 1, 4).as("probes"))
        .select(col("qid"), col("embedding"),
          explode(col("probes")).as("probe"))
        .select(col("qid"), col("probe.l").cast("int").as("cell"),
          P.residualLut(col("embedding"), col("probe.l").cast("int"))
            .as("lut"))
      val adc = (0 until P.M).map { m =>
        element_at(col("lut"),
          (lit(m * P.K + 1) + shiftright(col("pq_code"), 4 * m)
            .bitwiseAND(lit(15L))).cast("int"))
      }.reduce(_ + _)
      codes.join(broadcast(qs), Seq("cell"))
        .withColumn("adc", adc)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), col("rn").cast("long").as("rn"),
          round(col("adc"), 6).as("adc"))
        .orderBy(col("qid"), col("rn"))
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
      val dl = graft.functions.KMeans.dists(col("embedding"), m, s)
      emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
        .select(col("vec_id"), dl.as("__dl"))
        .select(col("vec_id"),
          (array_position(col("__dl"), array_min(col("__dl"))) - 1)
            .cast("bigint").as("cell"),
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
      trainedIvfTopK(s, dir)
        .select(col("qid"), col("vec_id"), col("rn").cast("long").as("rn"),
          round(col("adc"), 6).as("adc"))
        .orderBy(col("qid"), col("rn"))
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
      import org.apache.spark.sql.expressions.Window
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
          explode(FT.features(TF.normText(col("text")), s)).as("feat"))
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
          FT.scoreWith(TF.normText(col("text")), bc, s).as("score"))
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
      val P = graft.functions.Pq
      val mo = pqModel(s, dir)
      val rows: Seq[(Long, Long, Long, Long, Double)] = for {
        (snap, it) <- mo.snapshots.zipWithIndex
        mm <- 0 until (if (snap.isEmpty) 0 else P.M)
        cell <- 0 until P.K
        j <- 0 until P.SubDim
      } yield (it.toLong, mm.toLong, cell.toLong, j.toLong,
        snap((mm * P.K + cell) * P.SubDim + j))
      rows.toDF("iter", "m", "cell", "dim_idx", "cval")
        .orderBy(col("iter"), col("m"), col("cell"), col("dim_idx"))
    }),

    // ---- ADC top-k over the TRAINED product quantizer (p96 with the
    // planted codebook swapped for the Lloyd-trained one — with p109
    // this completes the vector-store family's trained path: both the
    // coarse layer and the code layer now come from corpus training,
    // and both ride the same broadcast-probe WSCG kernels). ----
    "p118_pq_trained_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val P = graft.functions.Pq
      val mo = pqModel(s, dir)
      val base = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
      val e = if (mo.codebook.isEmpty) base.limit(0) else base
      val codes = e.select(col("vec_id"),
        P.encodeWith(col("embedding"), mo.bc, s)
          .getField("code").as("pq_code"))
      val qs = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"),
          P.lutWith(col("embedding"), mo.bc, s).as("lut"))
      val adc = (0 until P.M).map { m =>
        element_at(col("lut"),
          (lit(m * P.K + 1) + shiftright(col("pq_code"), 4 * m)
            .bitwiseAND(lit(15L))).cast("int"))
      }.reduce(_ + _)
      codes.join(broadcast(qs))
        .withColumn("adc", adc)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), col("rn").cast("long").as("rn"),
          round(col("adc"), 6).as("adc"))
        .orderBy(col("qid"), col("rn"))
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
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
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
    // corpus is re-ingested with planted duplicates — byte-exact
    // copies (ids +1e6, every 10th) and a dim-1-REPLACED near-copy
    // family (ids +2e6, every 20th; replacement not addition, so the
    // perturbed distance is pure double arithmetic from parquet
    // values) — then assigned to trained cells and pruned within-cell
    // at squared-L2 tau=1.0 (natural pairs sit ≥ ~1.1 apart, planted
    // ones well inside). The oracle replays training, every
    // assignment, every within-cell distance, and the keep-smallest-id
    // rule. Cross-cell dups are unreported BY DESIGN (the SemDeDup
    // recall tradeoff, spec-pinned in SimilaritySpec). ----
    "p120_semantic_dedup" -> ((s, dir) => {
      plantedIdGuard(s, dir)
      val m = kmModel(s, dir)
      val base = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
        .select(col("vec_id"), slice(col("embedding"), 1, 64).as("embedding"))
      val exactCopies = base.filter(col("vec_id") % 10 === 3)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val nearCopies = base.filter(col("vec_id") % 20 === 7)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          concat(array(lit(0.5f)), slice(col("embedding"), 2, 63))
            .as("embedding"))
      val all = base.unionByName(exactCopies).unionByName(nearCopies)
      val dl = graft.functions.KMeans.dists(col("embedding"), m, s)
      val assigned = all.select(col("vec_id"), col("embedding"),
        (array_position(dl, array_min(dl)) - 1).cast("bigint").as("cell"))
      Similarity.semanticDedup(assigned, tau = 1.0)
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
      import org.apache.spark.sql.expressions.Window
      val P = graft.functions.Pq
      val km = kmModel(s, dir)
      val pq = pqModel(s, dir)
      val e = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
      val live = if (pq.codebook.isEmpty) e.limit(0) else e
      def dl = graft.functions.KMeans.dists(col("embedding"), km, s)
      val corpusIdx = s.read
        .schema("vec_id BIGINT, cell INT, pq_code BIGINT")
        .parquet(p121Fixture(s, dir))
      val batchIdx = live.filter(col("vec_id") % 17 === 3)
        .select(col("vec_id"),
          (array_position(dl, array_min(dl)) - 1).cast("int").as("cell"),
          P.encodeWith(col("embedding"), pq.bc, s).getField("code")
            .as("pq_code"))
      val index = corpusIdx.unionByName(batchIdx)
      val qs = live.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"),
          P.lutWith(col("embedding"), pq.bc, s).as("lut"),
          slice(sort_array(transform(dl,
            (d, l) => struct(d.as("d"), l.as("l")))), 1, 4).as("probes"))
        .select(col("qid"), col("lut"), explode(col("probes")).as("probe"))
        .select(col("qid"), col("lut"), col("probe.l").cast("int").as("cell"))
      val adc = (0 until P.M).map { m =>
        element_at(col("lut"),
          (lit(m * P.K + 1) + shiftright(col("pq_code"), 4 * m)
            .bitwiseAND(lit(15L))).cast("int"))
      }.reduce(_ + _)
      index.join(broadcast(qs), Seq("cell"))
        .withColumn("adc", adc)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), col("rn").cast("long").as("rn"),
          round(col("adc"), 6).as("adc"))
        .orderBy(col("qid"), col("rn"))
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
          (FT.scoreWith(TF.normText(col("text")), ftModel(s, dir), s)
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
      import org.apache.spark.sql.expressions.Window
      val m = kmModel(s, dir)
      val dl = graft.functions.KMeans.dists(col("embedding"), m, s)
      emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
        .select(col("vec_id"),
          (array_position(dl, array_min(dl)) - 1).cast("bigint").as("cell"))
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
      import org.apache.spark.sql.expressions.Window
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
      val P = graft.functions.Pq
      val km = kmModel(s, dir)
      val pq = pqModel(s, dir)
      val e = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
      val live = if (pq.codebook.isEmpty) e.limit(0) else e
      def dl = graft.functions.KMeans.dists(col("embedding"), km, s)
      live.select(
          (array_position(dl, array_min(dl)) - 1).cast("bigint").as("cell"),
          round(P.encodeWith(col("embedding"), pq.bc, s).getField("err"), 6)
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
      import org.apache.spark.sql.expressions.Window
      val P = graft.functions.Pq
      val km = kmModel(s, dir)
      val rpq = resPqModel(s, dir)
      val res = residualFrame(s, dir)
      val live = if (rpq.codebook.isEmpty) res.limit(0) else res
      val codes = live.select(col("vec_id"), col("cell"),
        P.encodeWith(col("resv"), rpq.bc, s).getField("code").as("pq_code"))
      val e = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
      val eLive = if (rpq.codebook.isEmpty) e.limit(0) else e
      def dl = graft.functions.KMeans.dists(col("embedding"), km, s)
      val qs = eLive.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding"),
          slice(sort_array(transform(dl,
            (d, l) => struct(d.as("d"), l.as("l")))), 1, 4).as("probes"))
        .select(col("qid"), col("embedding"),
          explode(col("probes")).as("probe"))
        .select(col("qid"), col("embedding"),
          col("probe.l").cast("int").as("cell"))
        .join(broadcast(kmCentroidsDf(s, km)), Seq("cell"))
        .select(col("qid"), col("cell"),
          P.lutWith(zip_with(col("embedding"), col("cv"),
            (x, c) => (x.cast("double") - c).cast("float")), rpq.bc, s)
            .as("lut"))
      val adc = (0 until P.M).map { m =>
        element_at(col("lut"),
          (lit(m * P.K + 1) + shiftright(col("pq_code"), 4 * m)
            .bitwiseAND(lit(15L))).cast("int"))
      }.reduce(_ + _)
      codes.join(broadcast(qs), Seq("cell"))
        .withColumn("adc", adc)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), col("rn").cast("long").as("rn"),
          round(col("adc"), 6).as("adc"))
        .orderBy(col("qid"), col("rn"))
    }),

    // ---- Matryoshka truncation eval (MRL, Kusupati et al.
    // arXiv:2205.13147): recall@5 of PREFIX-dimension (first 16 of 64)
    // exact search against full-dimension exact search — the
    // dimension-vs-quality tradeoff every MRL deployment measures
    // before shipping truncated vectors. Both sides are fixed-panel
    // brute force (the eval baseline class, PlanAudit-exempt); the
    // oracle recomputes both rankings and the intersection. ----
    "p127_matryoshka_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val VF = graft.functions.VectorFunctions
      val e = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
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
      import org.apache.spark.sql.expressions.Window
      val VF = graft.functions.VectorFunctions
      val e = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
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
      import org.apache.spark.sql.expressions.Window
      val VF = graft.functions.VectorFunctions
      val bm = TextOps.bm25TopK(docs(s, dir), "doc_id", "text",
        queryTokens = Seq("spark", "join", "window"), k = 20)
        .select(col("id").as("doc_id"), col("rk").as("rk_txt"))
      val e = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
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
      val base = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
        .select(col("vec_id"), slice(col("embedding"), 1, 64).as("embedding"))
      val exactCopies = base.filter(col("vec_id") % 10 === 3)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val nearCopies = base.filter(col("vec_id") % 20 === 7)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          concat(array(lit(0.5f)), slice(col("embedding"), 2, 63))
            .as("embedding"))
      val fresh = base.filter(col("vec_id") % 25 === 11)
        .select((col("vec_id") + 3000000L).as("vec_id"),
          concat(array_repeat(lit(0.9f), 8), slice(col("embedding"), 9, 56))
            .as("embedding"))
      val batch = exactCopies.unionByName(nearCopies).unionByName(fresh)
      def dl = graft.functions.KMeans.dists(col("embedding"), m, s)
      def assign(df: DataFrame): DataFrame =
        df.select(col("vec_id"), col("embedding"),
          (array_position(dl, array_min(dl)) - 1).cast("bigint").as("cell"))
      Similarity.incrementalSemanticDedup(assign(base), assign(batch),
          tau = 1.0)
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
      import org.apache.spark.sql.expressions.Window
      val FT = graft.functions.FastText
      val scored = docs(s, dir)
        .select(col("doc_id"),
          FT.scoreWith(TF.normText(col("text")), ftModel(s, dir), s)
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
      val P = graft.functions.Pq
      val enc = P.encode(col("embedding"))
      val dl = P.coarseDists(col("embedding"))
      Streams.runToMemory(
        Streams.embeddingsStream(s, dir)
          .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
          .select(col("vec_id"),
            (array_position(dl, array_min(dl)) - 1).cast("int").as("cell"),
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
      val e = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
        .select(col("vec_id"), slice(col("embedding"), 1, 64).as("embedding"))
      val evalPanel = e.filter(col("vec_id") % 50 === 0)
      val contamExact = evalPanel
        .select((col("vec_id") + 4000000L).as("vec_id"), col("embedding"))
      val contamNear = evalPanel
        .select((col("vec_id") + 5000000L).as("vec_id"),
          concat(array(lit(0.5f)), slice(col("embedding"), 2, 63))
            .as("embedding"))
      val train = e.filter(col("vec_id") % 50 =!= 0)
        .unionByName(contamExact).unionByName(contamNear)
      def dl = graft.functions.KMeans.dists(col("embedding"), m, s)
      def assign(df: DataFrame): DataFrame =
        df.select(col("vec_id"), col("embedding"),
          (array_position(dl, array_min(dl)) - 1).cast("bigint").as("cell"))
      Similarity.semanticDecontaminate(assign(evalPanel), assign(train),
          tau = 1.0)
        .orderBy(col("vec_id"))
    }),

    // ---- sequential vector-corpus build (the batch twin of
    // Streams.vectorIngest, the p40 shape for the semantic family):
    // batch 0 (even ids) SemDeDup'd internally becomes the corpus;
    // batch 1 (odd ids + planted exact copies of every 10th even id)
    // is internally deduped then ADMITTED — a batch-1 row dies to any
    // same-cell corpus row within tau or a smaller-id batch-1 row.
    // Output = the admitted corpus with batch provenance; the oracle
    // replays both dedups and the admission rule. StreamingSpec proves
    // the foreachBatch loop (idempotent b<id> replay) over the same
    // operators. ----
    "p134_sequential_vector_admit" -> ((s, dir) => {
      plantedIdGuard(s, dir)
      val m = kmModel(s, dir)
      val e = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
        .select(col("vec_id"), slice(col("embedding"), 1, 64).as("embedding"))
      def dl = graft.functions.KMeans.dists(col("embedding"), m, s)
      def assign(df: DataFrame): DataFrame =
        df.select(col("vec_id"), col("embedding"),
          (array_position(dl, array_min(dl)) - 1).cast("bigint").as("cell"))
      val b0all = assign(e.filter(col("vec_id") % 2 === 0))
      val b0 = b0all.join(
        Similarity.semanticDedup(b0all, tau = 1.0)
          .filter(col("kept")).select(col("vec_id")), Seq("vec_id"))
      val copies = e.filter(col("vec_id") % 10 === 4)
        .select((col("vec_id") + 6000000L).as("vec_id"), col("embedding"))
      val b1all = assign(
        e.filter(col("vec_id") % 2 === 1).unionByName(copies))
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
      val P = graft.functions.Pq
      val pq = pqSampledModel(s, dir)
      val e = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
      val live = if (pq.codebook.isEmpty) e.limit(0) else e
      val enc = P.encodeWith(col("embedding"), pq.bc, s)
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
      val base = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
        .select(col("vec_id"), slice(col("embedding"), 1, 64).as("embedding"))
      val exactCopies = base.filter(col("vec_id") % 10 === 3)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val nearCopies = base.filter(col("vec_id") % 20 === 7)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          concat(array(lit(0.5f)), slice(col("embedding"), 2, 63))
            .as("embedding"))
      val all = base.unionByName(exactCopies).unionByName(nearCopies)
      val dl = graft.functions.KMeans.dists(col("embedding"), m, s)
      val probed = all.select(col("vec_id"), col("embedding"),
        transform(slice(sort_array(transform(dl,
            (d, l) => struct(d.as("d"), l.as("l")))), 1, 2),
          p => p.getField("l").cast("bigint")).as("cells"))
      Similarity.semanticDedupProbed(probed, tau = 1.0)
        .orderBy(col("vec_id"))
    }),

    // ---- multi-probe INCREMENTAL SemDeDup: p130's refresh fixture with
    // the batch side probing its top-2 trained cells against home-cell
    // corpus and smaller-id home-cell batch rows — the daily refresh
    // with boundary recall. ----
    "p138_incremental_multiprobe_dedup" -> ((s, dir) => {
      plantedIdGuard(s, dir)
      val m = kmModel(s, dir)
      val base = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
        .select(col("vec_id"), slice(col("embedding"), 1, 64).as("embedding"))
      val exactCopies = base.filter(col("vec_id") % 10 === 3)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val nearCopies = base.filter(col("vec_id") % 20 === 7)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          concat(array(lit(0.5f)), slice(col("embedding"), 2, 63))
            .as("embedding"))
      val fresh = base.filter(col("vec_id") % 25 === 11)
        .select((col("vec_id") + 3000000L).as("vec_id"),
          concat(array_repeat(lit(0.9f), 8), slice(col("embedding"), 9, 56))
            .as("embedding"))
      val batch = exactCopies.unionByName(nearCopies).unionByName(fresh)
      def dl = graft.functions.KMeans.dists(col("embedding"), m, s)
      val corpus = base.select(col("vec_id"), col("embedding"),
        (array_position(dl, array_min(dl)) - 1).cast("bigint").as("cell"))
      val probedBatch = batch.select(col("vec_id"), col("embedding"),
        transform(slice(sort_array(transform(dl,
            (d, l) => struct(d.as("d"), l.as("l")))), 1, 2),
          p => p.getField("l").cast("bigint")).as("cells"))
      Similarity.incrementalSemanticDedupProbed(corpus, probedBatch,
          tau = 1.0)
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
      import org.apache.spark.sql.expressions.Window
      plantedIdGuard(s, dir)
      val P = graft.functions.Pq
      val (km2, pq2) = rebuiltModels(s, dir)
      val drifted = driftedFrame(s, dir)
      val live = if (pq2.codebook.isEmpty) drifted.limit(0) else drifted
      val index = s.read
        .schema("vec_id BIGINT, cell INT, pq_code BIGINT")
        .parquet(p139Fixture(s, dir))
      def dl = graft.functions.KMeans.dists(col("embedding"), km2, s)
      val qs = live.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"),
          P.lutWith(col("embedding"), pq2.bc, s).as("lut"),
          slice(sort_array(transform(dl,
            (d, l) => struct(d.as("d"), l.as("l")))), 1, 4).as("probes"))
        .select(col("qid"), col("lut"), explode(col("probes")).as("probe"))
        .select(col("qid"), col("lut"), col("probe.l").cast("int").as("cell"))
      val adc = (0 until P.M).map { m =>
        element_at(col("lut"),
          (lit(m * P.K + 1) + shiftright(col("pq_code"), 4 * m)
            .bitwiseAND(lit(15L))).cast("int"))
      }.reduce(_ + _)
      index.join(broadcast(qs), Seq("cell"))
        .withColumn("adc", adc)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), col("rn").cast("long").as("rn"),
          round(col("adc"), 6).as("adc"))
        .orderBy(col("qid"), col("rn"))
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
      import org.apache.spark.sql.expressions.Window
      val P = graft.functions.Pq
      val km = kmModel(s, dir)
      val pq = pqModel(s, dir)
      val e = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
      val live = if (pq.codebook.isEmpty) e.limit(0) else e
      def dl = graft.functions.KMeans.dists(col("embedding"), km, s)
      val corpusIdx = s.read
        .schema("vec_id BIGINT, cell INT, pq_code BIGINT")
        .parquet(p121Fixture(s, dir))
      val batchIdx = live.filter(col("vec_id") % 17 === 3)
        .select(col("vec_id"),
          (array_position(dl, array_min(dl)) - 1).cast("int").as("cell"),
          P.encodeWith(col("embedding"), pq.bc, s).getField("code")
            .as("pq_code"))
      val index = corpusIdx.unionByName(batchIdx)
        .filter(col("vec_id") % 13 =!= 5)
      val qs = live.filter(col("vec_id") % 50 === 0 &&
          col("vec_id") % 13 =!= 5)
        .select(col("vec_id").as("qid"),
          P.lutWith(col("embedding"), pq.bc, s).as("lut"),
          slice(sort_array(transform(dl,
            (d, l) => struct(d.as("d"), l.as("l")))), 1, 4).as("probes"))
        .select(col("qid"), col("lut"), explode(col("probes")).as("probe"))
        .select(col("qid"), col("lut"), col("probe.l").cast("int").as("cell"))
      val adc = (0 until P.M).map { m =>
        element_at(col("lut"),
          (lit(m * P.K + 1) + shiftright(col("pq_code"), 4 * m)
            .bitwiseAND(lit(15L))).cast("int"))
      }.reduce(_ + _)
      index.join(broadcast(qs), Seq("cell"))
        .withColumn("adc", adc)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), col("rn").cast("long").as("rn"),
          round(col("adc"), 6).as("adc"))
        .orderBy(col("qid"), col("rn"))
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
      val e = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
        .select(col("vec_id"), slice(col("embedding"), 1, 64).as("embedding"))
      val evalPanel = e.filter(col("vec_id") % 50 === 0)
      val contamExact = evalPanel
        .select((col("vec_id") + 4000000L).as("vec_id"), col("embedding"))
      val contamNear = evalPanel
        .select((col("vec_id") + 5000000L).as("vec_id"),
          concat(array(lit(0.5f)), slice(col("embedding"), 2, 63))
            .as("embedding"))
      val train = e.filter(col("vec_id") % 50 =!= 0)
        .unionByName(contamExact).unionByName(contamNear)
      def dl = graft.functions.KMeans.dists(col("embedding"), m, s)
      val refHome = evalPanel.select(col("vec_id"), col("embedding"),
        (array_position(dl, array_min(dl)) - 1).cast("bigint").as("cell"))
      val probedTrain = train.select(col("vec_id"), col("embedding"),
        transform(slice(sort_array(transform(dl,
            (d, l) => struct(d.as("d"), l.as("l")))), 1, 2),
          p => p.getField("l").cast("bigint")).as("cells"))
      Similarity.semanticDecontaminateProbed(refHome, probedTrain,
          tau = 1.0)
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
      import org.apache.spark.sql.expressions.Window
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
      // Size-derived panel strategy (r19): the theta join's sides carry
      // no usable size estimates (shared + CC-output lineage, Catalyst
      // guesses ~868 GB), so without real stats it falls back to a
      // CartesianProduct. The panel is a corpus/64 sample, so its safe
      // physical shape depends on CORPUS size:
      //  - narrow fixture scan (Tables.isNarrowScan): the panel is KBs by
      //    construction and one coalesced partition is the cheapest
      //    correct shape (interleaved ConfAb: landing it anyway costs
      //    ~10% — A=4.36 s vs B=3.92 s — pure write+read overhead);
      //  - naturally-splitting corpus (100 TB; also the stat-failure
      //    default): LAND the slim panel (24 bytes/row) to per-invocation
      //    parquet and read it back. The planner gets REAL file stats, the
      //    broadcast hint survives BroadcastGuard while the panel is
      //    small, and past the guard's ceiling the cartesian streams a
      //    multi-split parquet panel — no single partition grows with N.
      // The write overwrites a per-fixture directory (the p86/p101 sink
      // discipline), so nothing is served across bench runs.
      val landPanel = !graft.engine.Tables.isNarrowScan(s, dir, "documents")
      val panelPath = Layout.sinkDir(s, "p150panel:" + dir) + "/panel"
      if (landPanel) probes0.write.mode("overwrite").parquet(panelPath)
      val probes =
        if (landPanel) s.read.schema(probes0.schema).parquet(panelPath)
        else probes0.coalesce(1)
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
      // same-window A/B (ProfileQuery, sf0.1 local[32]): unpersisted
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
      // itself (ProfileQuery: five 3.8–10.7 s stages each re-reading the
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
      // (ProfileQuery: three ~5-9 s 32-task figure stages out of six
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

  /** Shared sample parameters of the sampled-trainer family
    * (p135/p136): the deterministic hash-sample keeps ids whose
    * [[graft.operators.Sampling.bucketHash]] falls under fraction·2^32.
    * `SampledTrainSql` is the DuckDB twin of that predicate — plain `%`
    * equals pmod for the non-negative ids the fixture contract
    * guarantees.
    */
  private[queries] val SampledTrainFraction = 0.5
  private val SampledTrainCutoff =
    (SampledTrainFraction * 4294967296.0).toLong
  private val SampledTrainSql =
    s"""(SELECT vec_id, embedding FROM embeddings
       WHERE ((vec_id % 4294967296) * 1103515245) % 4294967296
             < $SampledTrainCutoff)"""

  private def kmSampledModel(s: SparkSession, dir: String)
      : graft.functions.KMeans.Model =
    AppState.memo(s, "kmSampledModel", dir)(
      graft.functions.KMeans.train(emb(s, dir), "vec_id", "embedding",
        k = 16, dim = 64, iters = KmIters,
        sampleFraction = SampledTrainFraction))

  private def pqSampledModel(s: SparkSession, dir: String)
      : graft.functions.Pq.TrainedPq =
    AppState.memo(s, "pqSampledModel", dir)(
      graft.functions.Pq.train(emb(s, dir), "vec_id", "embedding",
        iters = KmIters, sampleFraction = SampledTrainFraction))

  /** The DRIFTED corpus of the rebuild family (p139): the base vectors
    * plus the p130 fresh rule (+3e6, dims 1-8 replaced — embeddings the
    * original training never saw, i.e. distribution drift). Both sides
    * pinned to 64 dims (the planted-family discipline).
    */
  private def driftedFrame(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
      .select(col("vec_id"), slice(col("embedding"), 1, 64).as("embedding"))
    val fresh = base.filter(col("vec_id") % 25 === 11)
      .select((col("vec_id") + 3000000L).as("vec_id"),
        concat(array_repeat(lit(0.9f), 8), slice(col("embedding"), 9, 56))
          .as("embedding"))
    base.unionByName(fresh)
  }

  /** DuckDB twin of [[driftedFrame]] — the `src` both trainer CTE
    * builders replay the rebuild trainings over.
    */
  private val DriftedSql =
    """(SELECT vec_id, embedding[:64] AS embedding FROM embeddings
       WHERE embedding IS NOT NULL AND len(embedding) >= 64
       UNION ALL
       SELECT vec_id + 3000000,
              list_transform(range(0, 8), x -> 0.9::FLOAT)
                || (embedding[:64])[9:]
       FROM embeddings
       WHERE embedding IS NOT NULL AND len(embedding) >= 64
         AND vec_id % 25 = 11)"""

  /** The REBUILT models: coarse + PQ retrained from scratch on the
    * drifted corpus (the retrain half of the p125 health loop — rising
    * reconstruction error means the codebooks no longer fit; the fix is
    * retrain + re-encode + swap, not patching the old model).
    */
  private def rebuiltModels(s: SparkSession, dir: String)
      : (graft.functions.KMeans.Model, graft.functions.Pq.TrainedPq) =
    AppState.memo(s, "rebuiltModels", dir) {
      val d = driftedFrame(s, dir)
      (graft.functions.KMeans.train(d, "vec_id", "embedding",
        k = 16, dim = 64, iters = KmIters),
        graft.functions.Pq.train(d, "vec_id", "embedding", iters = KmIters))
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
      val P = graft.functions.Pq
      val (km2, pq2) = rebuiltModels(s, dir)
      val d = driftedFrame(s, dir)
      val live = if (pq2.codebook.isEmpty) d.limit(0) else d
      def dl = graft.functions.KMeans.dists(col("embedding"), km2, s)
      live.select(col("vec_id"),
          (array_position(dl, array_min(dl)) - 1).cast("int").as("cell"),
          P.encodeWith(col("embedding"), pq2.bc, s).getField("code")
            .as("pq_code"))
        .write.mode("overwrite").parquet(root)
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
      : graft.functions.Pq.TrainedPq =
    AppState.memo(s, "pqModel", dir)(
      graft.functions.Pq.train(emb(s, dir), "vec_id", "embedding",
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
      : graft.functions.KMeans.Model =
    AppState.memo(s, "kmModel", dir)(
      graft.functions.KMeans.train(emb(s, dir), "vec_id", "embedding",
        k = 16, dim = 64, iters = KmIters))

  /** The trained-IVF-PQ top-5 plan shared by p109 (which reports it) and
    * p119 (which measures its recall): corpus vectors PQ-encoded and
    * assigned to trained coarse cells, the query panel probing its 4
    * nearest trained cells, ADC over the broadcast LUT inside WSCG, and
    * a per-query window top-5 — deterministic ordering by (adc, vec_id).
    * Columns: qid, vec_id, rn (int), adc (unrounded double).
    */
  private def trainedIvfTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val P = graft.functions.Pq
    val m = kmModel(s, dir)
    val e = emb(s, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
    def dl = graft.functions.KMeans.dists(col("embedding"), m, s)
    val codes = e.select(col("vec_id"),
      P.encode(col("embedding")).getField("code").as("pq_code"),
      (array_position(dl, array_min(dl)) - 1).cast("int").as("cell"))
    val qs = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), P.lut(col("embedding")).as("lut"),
        slice(sort_array(transform(dl,
          (d, l) => struct(d.as("d"), l.as("l")))), 1, 4).as("probes"))
      .select(col("qid"), col("lut"),
        explode(col("probes")).as("probe"))
      .select(col("qid"), col("lut"), col("probe.l").as("cell"))
    val adc = (0 until P.M).map { m =>
      element_at(col("lut"),
        (lit(m * P.K + 1) + shiftright(col("pq_code"), 4 * m)
          .bitwiseAND(lit(15L))).cast("int"))
    }.reduce(_ + _)
    codes.join(broadcast(qs), Seq("cell"))
      .withColumn("adc", adc)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
      .filter(col("rn") <= 5)
  }

  /** The trained coarse centroids as a k-row (cell, cv double[]) frame
    * — the broadcast side of residual computation (16 rows; a model is
    * data on the wire).
    */
  private def kmCentroidsDf(s: SparkSession,
      m: graft.functions.KMeans.Model): DataFrame = {
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
    val e = emb(s, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
    def dl = graft.functions.KMeans.dists(col("embedding"), km, s)
    e.select(col("vec_id"), col("embedding"),
        (array_position(dl, array_min(dl)) - 1).cast("int").as("cell"))
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
      : graft.functions.Pq.TrainedPq =
    AppState.memo(s, "resPqModel", dir)(
      graft.functions.Pq.train(residualFrame(s, dir), "vec_id", "resv",
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
      val P = graft.functions.Pq
      val km = kmModel(s, dir)
      val pq = pqModel(s, dir)
      val e = emb(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) >= 64)
        .filter(col("vec_id") % 17 =!= 3)
      val base = if (pq.codebook.isEmpty) e.limit(0) else e
      def dl = graft.functions.KMeans.dists(col("embedding"), km, s)
      base.select(col("vec_id"),
          (array_position(dl, array_min(dl)) - 1).cast("int").as("cell"),
          P.encodeWith(col("embedding"), pq.bc, s).getField("code")
            .as("pq_code"))
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
      val corpusCopies = Multimodal.resizePooled(
          base.filter(col("media_id") % 5 === 0), 1)
        .withColumn("media_id", col("media_id") + CopyIdOffset)
      ImageHash.dhashSignatures(base.unionByName(corpusCopies))
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

  // DuckDB twin of Multimodal.plantPngs pixels + ImageHash.dhashSignatures:
  // CTE chain from an `allids(id, src)` relation (src drives the planted
  // pixel rule `(src*7 + i*13) % 256`, w = 8+src%9, h = 8+src%7) to
  // `words(id, w, h, b0..b3)` — the 9x8 block-mean grid, adjacent-cell
  // gradient sign bits, folded into 4 16-bit band words. Pure integer
  // arithmetic throughout (// floor-div on non-negatives = Java /), so the
  // oracle owns no codec while the Spark side round-trips real PNG bytes.
  // `pixelOf` builds the planted pixel SQL from the flat-index SQL —
  // legacy rule for the decode-stat fixtures (p74/p85), the
  // shape-varying fp rule (plantPngsFp) for the pair queries (p75/p81/p88):
  // the legacy rule is additive in id (one common ramp phase-shifted),
  // which at sf0.1 mints ~30k natural hamming<=3 twins — fixture
  // artifact, not operator workload (same finding as the audio side).
  private val oPixelLegacy: String => String =
    idx => s"(src*7 + ($idx)*13) % 256"
  private val oPixelFp: String => String =
    idx => s"(src*7 + ($idx)*($idx)*(3 + src % 31) + ($idx)*13) % 256"

  private def oDhashCtes(pixelOf: String => String = oPixelLegacy) =
    s"""ids AS (SELECT id, src, 8 + src % 9 AS w, 8 + src % 7 AS h
         FROM allids),
    cells AS (SELECT id, w, h, gy.y AS y, gx.x AS x, src,
        (gx.x * w) // 9 AS x0,
        greatest(((gx.x + 1) * w) // 9, (gx.x * w) // 9 + 1) AS x1,
        (gy.y * h) // 8 AS y0,
        greatest(((gy.y + 1) * h) // 8, (gy.y * h) // 8 + 1) AS y1
      FROM ids,
        (SELECT unnest(range(0, 8)) AS y) gy,
        (SELECT unnest(range(0, 9)) AS x) gx),
    means AS (SELECT id, y, x,
        list_sum(flatten(list_transform(range(y0, y1), r ->
          list_transform(range(x0, x1), c -> ${pixelOf("r*w+c")}))))
          // ((y1 - y0) * (x1 - x0)) AS g
      FROM cells),
    bits AS (SELECT a.id AS id, a.y AS y, a.x AS x,
        CASE WHEN a.g < b.g THEN 1 ELSE 0 END AS bit
      FROM means a JOIN means b ON a.id = b.id AND a.y = b.y
        AND b.x = a.x + 1
      WHERE a.x < 8),
    words AS (SELECT bits.id,
        cast(sum(CASE WHEN (y*8+x) // 16 = 0
          THEN bit * (1 << ((y*8+x) % 16)) ELSE 0 END) AS integer) AS b0,
        cast(sum(CASE WHEN (y*8+x) // 16 = 1
          THEN bit * (1 << ((y*8+x) % 16)) ELSE 0 END) AS integer) AS b1,
        cast(sum(CASE WHEN (y*8+x) // 16 = 2
          THEN bit * (1 << ((y*8+x) % 16)) ELSE 0 END) AS integer) AS b2,
        cast(sum(CASE WHEN (y*8+x) // 16 = 3
          THEN bit * (1 << ((y*8+x) % 16)) ELSE 0 END) AS integer) AS b3
      FROM bits GROUP BY bits.id)"""

  // DuckDB twin of the mixed planted-WAV corpus + AudioHash.fingerprints:
  // CTE chain from an `aids(id, src)` relation (src drives the planted
  // sample rule; `pred8` — a SQL predicate over src — picks the shape:
  // true = 8-bit unsigned mono `(src*13 + f*29) % 256` with amplitude
  // |s - 128|, false = 16-bit signed
  // `(src*31 + f*57 + c*101) % 4001 - 2000` with amplitude |s|) to
  // `awords(id, b0..b3)` — 65 time bins of integer mean absolute
  // amplitude, adjacent-bin delta sign bits, folded into 4 16-bit band
  // words. All division operands are non-negative, so DuckDB's flooring
  // `//` equals Java's truncating `/` throughout.
  private def oAfpCtes(pred8: String) =
    s"""ap AS (SELECT id, src,
        CASE WHEN $pred8 THEN 64 + src % 32 ELSE 48 + src % 16 END AS n,
        CASE WHEN $pred8 THEN 1 ELSE 1 + ((src // 2) % 2) END AS chs,
        CASE WHEN $pred8 THEN 8000 + (src % 5) * 1000
             ELSE 11000 + (src % 4) * 1000 END AS rate
      FROM aids),
    abins AS (SELECT id, src, n, chs, rate, gb.b AS b,
        (gb.b * n) // 65 AS f0,
        greatest(((gb.b + 1) * n) // 65, (gb.b * n) // 65 + 1) AS f1
      FROM ap, (SELECT unnest(range(0, 65)) AS b) gb),
    aen AS (SELECT id, b,
        list_sum(flatten(list_transform(range(f0, f1), f ->
          list_transform(range(0, chs), c ->
            CASE WHEN $pred8
              THEN abs((src*13 + f*29) % 256 - 128)
              ELSE abs((src*31 + f*57 + c*101) % 4001 - 2000) END))))
          // ((f1 - f0) * chs) AS e
      FROM abins),
    abits AS (SELECT x.id AS id, x.b AS i,
        CASE WHEN x.e < y.e THEN 1 ELSE 0 END AS bit
      FROM aen x JOIN aen y ON x.id = y.id AND y.b = x.b + 1
      WHERE x.b < 64),
    awords AS (SELECT abits.id,
        cast(sum(CASE WHEN i // 16 = 0
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS b0,
        cast(sum(CASE WHEN i // 16 = 1
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS b1,
        cast(sum(CASE WHEN i // 16 = 2
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS b2,
        cast(sum(CASE WHEN i // 16 = 3
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS b3
      FROM abits GROUP BY abits.id)"""

  // DuckDB twin of Multimodal.plantWavsFp + AudioHash.fingerprints: the
  // fingerprint-grade corpus is 16-bit mono with the shape-varying
  // quadratic sample rule
  // s(f) = (src*31 + f*f*(13 + src % 89) + f*57) % 4001 - 2000 and
  // n = 180 + src % 40 frames, so every bin pools >= 2 frames and bin
  // energies decorrelate across ids (see plantWavsFp's scaladoc for why
  // the legacy linear/phase-only rules cannot feed the pair queries).
  // Ends in `fwords(id, b0..b3)`.
  private val oAfpFpCtes =
    s"""fp AS (SELECT id, src, 180 + src % 40 AS n FROM aids),
    fbins AS (SELECT id, src, n, gb.b AS b,
        (gb.b * n) // 65 AS f0,
        greatest(((gb.b + 1) * n) // 65, (gb.b * n) // 65 + 1) AS f1
      FROM fp, (SELECT unnest(range(0, 65)) AS b) gb),
    fen AS (SELECT id, b,
        list_sum(list_transform(range(f0, f1), f ->
          abs((src*31 + f*f*(13 + src % 89) + f*57) % 4001 - 2000)))
          // (f1 - f0) AS e
      FROM fbins),
    fbits AS (SELECT x.id AS id, x.b AS i,
        CASE WHEN x.e < y.e THEN 1 ELSE 0 END AS bit
      FROM fen x JOIN fen y ON x.id = y.id AND y.b = x.b + 1
      WHERE x.b < 64),
    fwords AS (SELECT fbits.id,
        cast(sum(CASE WHEN i // 16 = 0
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS b0,
        cast(sum(CASE WHEN i // 16 = 1
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS b1,
        cast(sum(CASE WHEN i // 16 = 2
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS b2,
        cast(sum(CASE WHEN i // 16 = 3
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS b3
      FROM fbits GROUP BY fbits.id)"""

  // DuckDB twin of Multimodal.plantGifsFp + VideoHash.fingerprints
  // (everyN = 2): CTE chain from a `vids(id, src)` relation (src drives
  // the planted frame-pixel rule
  // pixel(f, i) = (src*11 + f*17 + i*i*(3 + src%31) + i*13) % 256 with
  // geometry n = 3 + src%4 frames, w = 8 + src%5, h = 10 + src%3) to
  // `vwords(id, b0..b3)`: per SAMPLED frame (f % 2 = 0) the 9x8
  // block-mean dHash grid bits — the oDhashCtes rule with a frame
  // dimension — then the STRICT-MAJORITY fold per bit position
  // (2*ones > n_sampled), folded into 4 16-bit band words. All division
  // operands non-negative (// = Java /).
  private val oVhashCtes =
    s"""vg AS (SELECT id, src, 3 + src % 4 AS n, 8 + src % 5 AS w,
        10 + src % 3 AS h FROM vids),
    vsf AS (SELECT id, src, n, w, h, gf.f AS f
      FROM vg, (SELECT unnest(range(0, 6)) AS f) gf
      WHERE gf.f < n AND gf.f % 2 = 0),
    vns AS (SELECT id, count(*) AS ns FROM vsf GROUP BY id),
    vcells AS (SELECT id, src, w, f, gy.y AS y, gx.x AS x,
        (gx.x * w) // 9 AS x0,
        greatest(((gx.x + 1) * w) // 9, (gx.x * w) // 9 + 1) AS x1,
        (gy.y * h) // 8 AS y0,
        greatest(((gy.y + 1) * h) // 8, (gy.y * h) // 8 + 1) AS y1
      FROM vsf,
        (SELECT unnest(range(0, 8)) AS y) gy,
        (SELECT unnest(range(0, 9)) AS x) gx),
    vmeans AS (SELECT id, f, y, x,
        list_sum(flatten(list_transform(range(y0, y1), r ->
          list_transform(range(x0, x1), c ->
            (src*11 + f*17 + (r*w+c)*(r*w+c)*(3 + src % 31)
             + (r*w+c)*13) % 256))))
          // ((y1 - y0) * (x1 - x0)) AS g
      FROM vcells),
    vfbits AS (SELECT a.id AS id, a.f AS f, a.y AS y, a.x AS x,
        CASE WHEN a.g < b.g THEN 1 ELSE 0 END AS bit
      FROM vmeans a JOIN vmeans b ON a.id = b.id AND a.f = b.f
        AND a.y = b.y AND b.x = a.x + 1
      WHERE a.x < 8),
    vmbits AS (SELECT fb.id AS id, fb.y*8 + fb.x AS i,
        CASE WHEN 2 * sum(fb.bit) > max(vns.ns) THEN 1 ELSE 0 END AS bit
      FROM vfbits fb JOIN vns ON fb.id = vns.id
      GROUP BY fb.id, fb.y, fb.x),
    vwords AS (SELECT vmbits.id,
        cast(sum(CASE WHEN i // 16 = 0
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS b0,
        cast(sum(CASE WHEN i // 16 = 1
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS b1,
        cast(sum(CASE WHEN i // 16 = 2
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS b2,
        cast(sum(CASE WHEN i // 16 = 3
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS b3
      FROM vmbits GROUP BY vmbits.id)"""

  // DuckDB twin of Multimodal.plantWavsSeg + AudioHash.windowFingerprints
  // (win=130, hop=26): from documents ids derive (src, off, n) — segment
  // ids (id % 7 = 5) carry frames [off, off+182) of container id-5's
  // quadratic waveform, off = 26*(1 + id % 4) — then per clip the
  // nw = (n-130)//26 + 1 windows, per window the 65 bins of exactly 2
  // frames each (130*b//65 = 2b), integer mean amplitude, adjacent-bin
  // delta sign bits, folded into 4 16-bit band words. Ends in
  // `sids(id, src, off, n)`, `swin(id, .., nw, w)`,
  // `awin(id, w, w0..w3)`. All division operands non-negative
  // (// = Java /).
  private val oAwinCtes =
    s"""sids AS (SELECT doc_id AS id,
        CASE WHEN doc_id % 7 = 5 THEN doc_id - 5 ELSE doc_id END AS src,
        CASE WHEN doc_id % 7 = 5 THEN 26 * (1 + doc_id % 4) ELSE 0 END AS off,
        CASE WHEN doc_id % 7 = 5 THEN 182 ELSE 390 + doc_id % 40 END AS n
      FROM documents),
    swin AS (SELECT id, src, off, n, (n - 130) // 26 + 1 AS nw, gw.w AS w
      FROM sids, (SELECT unnest(range(0, 13)) AS w) gw
      WHERE gw.w < (n - 130) // 26 + 1),
    sfr AS (SELECT id, w, src, gb.b AS b,
        off + w*26 + 2*gb.b + gt.t AS F
      FROM swin,
        (SELECT unnest(range(0, 65)) AS b) gb,
        (SELECT unnest(range(0, 2)) AS t) gt),
    samp AS (SELECT id, w, b,
        abs((src*31 + F*F*(13 + src % 89) + F*57) % 4001 - 2000) AS a
      FROM sfr),
    sben AS (SELECT id, w, b, sum(a) // 2 AS e
      FROM samp GROUP BY id, w, b),
    sbits AS (SELECT x.id AS id, x.w AS w, x.b AS i,
        CASE WHEN x.e < y.e THEN 1 ELSE 0 END AS bit
      FROM sben x JOIN sben y ON x.id = y.id AND x.w = y.w
        AND y.b = x.b + 1
      WHERE x.b < 64),
    awin AS (SELECT sbits.id, sbits.w,
        cast(sum(CASE WHEN i // 16 = 0
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS w0,
        cast(sum(CASE WHEN i // 16 = 1
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS w1,
        cast(sum(CASE WHEN i // 16 = 2
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS w2,
        cast(sum(CASE WHEN i // 16 = 3
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS w3
      FROM sbits GROUP BY sbits.id, sbits.w)"""

  // DuckDB twin of Multimodal.plantGifsSeg + VideoHash.frameHashes: from
  // documents ids derive (src, off, n, w, h) — segment ids (id % 7 = 5)
  // carry frames [off, off+4) of container id-5's sequence, off =
  // 1 + id % 5, geometry from SRC — then per frame the 9x8 block-mean
  // dHash grid bits under the frame-varying pixel rule
  // px(F, i) = (src*11 + i*i*(3 + src%31) + i*(13 + 7F) + F*17) % 256
  // (F = absolute frame index). Ends in `vsids(id, src, off, n)`,
  // `vfh(id, j, w0..w3)`. All division operands non-negative.
  private val oVseqCtes =
    s"""vsids AS (SELECT doc_id AS id,
        CASE WHEN doc_id % 7 = 5 THEN doc_id - 5 ELSE doc_id END AS src,
        CASE WHEN doc_id % 7 = 5 THEN 1 + doc_id % 5 ELSE 0 END AS off,
        CASE WHEN doc_id % 7 = 5 THEN 4 ELSE 12 + doc_id % 4 END AS n
      FROM documents),
    vsg AS (SELECT id, src, off, n,
        8 + src % 5 AS w, 10 + src % 3 AS h FROM vsids),
    vsf AS (SELECT id, src, n, w, h, gj.j AS j, off + gj.j AS F
      FROM vsg, (SELECT unnest(range(0, 16)) AS j) gj
      WHERE gj.j < n),
    vscells AS (SELECT id, j, src, w, F, gy.y AS y, gx.x AS x,
        (gx.x * w) // 9 AS x0,
        greatest(((gx.x + 1) * w) // 9, (gx.x * w) // 9 + 1) AS x1,
        (gy.y * h) // 8 AS y0,
        greatest(((gy.y + 1) * h) // 8, (gy.y * h) // 8 + 1) AS y1
      FROM vsf,
        (SELECT unnest(range(0, 8)) AS y) gy,
        (SELECT unnest(range(0, 9)) AS x) gx),
    vsmeans AS (SELECT id, j, y, x,
        list_sum(flatten(list_transform(range(y0, y1), r ->
          list_transform(range(x0, x1), c ->
            (src*11 + (r*w+c)*(r*w+c)*(3 + src % 31)
             + (r*w+c)*(13 + 7*F) + F*17) % 256))))
          // ((y1 - y0) * (x1 - x0)) AS g
      FROM vscells),
    vsbits AS (SELECT a.id AS id, a.j AS j, a.y*8 + a.x AS i,
        CASE WHEN a.g < b.g THEN 1 ELSE 0 END AS bit
      FROM vsmeans a JOIN vsmeans b ON a.id = b.id AND a.j = b.j
        AND a.y = b.y AND b.x = a.x + 1
      WHERE a.x < 8),
    vfh AS (SELECT vsbits.id, vsbits.j,
        cast(sum(CASE WHEN i // 16 = 0
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS w0,
        cast(sum(CASE WHEN i // 16 = 1
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS w1,
        cast(sum(CASE WHEN i // 16 = 2
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS w2,
        cast(sum(CASE WHEN i // 16 = 3
          THEN bit * (1 << (i % 16)) ELSE 0 END) AS integer) AS w3
      FROM vsbits GROUP BY vsbits.id, vsbits.j)"""

  // DuckDB twin of Pq.encodeJava over the embeddings table: per
  // (vector, sub-space m) the 16 centroid distances — each a j-ascending
  // list_sum of squared double diffs against the planted codebook rule
  // c(m,k,j) = (((m*7 + k*13 + j*29) % 41) - 20) / 20.0 — then
  // first-minimum argmin (`list_position(dl, list_min(dl))`, DuckDB's
  // 1-based first occurrence, matching encodeJava's strict `<`), the
  // 4-bit little-endian pack, and the m-ascending error fold. Ends in
  // `pqbest(vec_id, m, code, bd)` + `pqagg(vec_id, pq_code, err)`.
  private val oPqCodeCtes =
    s"""pqmk AS (SELECT vec_id, gm.m AS m,
        list_transform(range(0, 16), k ->
          list_sum(list_transform(
            list_transform(range(0, 8), j ->
              embedding[gm.m*8 + j + 1]::DOUBLE
                - (((gm.m*7 + k*13 + j*29) % 41 - 20) / 20.0)),
            x -> x * x))) AS dl
      FROM embeddings, (SELECT unnest(range(0, 8)) AS m) gm),
    pqbest AS (SELECT vec_id, m,
        list_position(dl, list_min(dl)) - 1 AS code,
        list_min(dl) AS bd
      FROM pqmk),
    pqagg AS (SELECT vec_id,
        cast(sum(code * (1::BIGINT << (4 * m))) AS bigint) AS pq_code,
        list_sum(list(bd ORDER BY m)) AS err
      FROM pqbest GROUP BY vec_id)"""

  /** DuckDB twin of [[graft.functions.KMeans.train]]: the FULL training
    * run unrolled (fixed iteration count — no recursive CTE needed, and
    * the unrolled form is engine-portable). Emits, for `iters` = N:
    * `kmseed` (scrambled-key seed ranking), `kmc0..kmcN` (iteration
    * snapshots: iter, cell, dim, cval), `kmcarr0..kmcarrN` (snapshot
    * centroid lists), and `kmd1..kmdN` (per-(vec, cell) distances used
    * by iteration t's assignment — also the inertia substrate). Every
    * operation mirrors the engine bit-for-bit: j-ascending list_sum
    * distances, first-min argmin via list_position(list_min), the p27
    * decimal(18,9)-sum/round-6 mean, LEFT JOIN + coalesce empty-cell
    * carry.
    */
  /** DuckDB twin of [[graft.functions.KMeans.train]], unrolled. `src`
    * generalizes the TRAINING relation (default: the embeddings table;
    * the sampled-train family passes the hash-sample subquery, the
    * rebuild family the drifted corpus); `assignSrc` the relation the
    * final snapshot ASSIGNS (`kmdF`) — FAISS's train-on-sample /
    * add-everything split. Both accept a table name or an aliasable
    * parenthesized subquery; null `assignSrc` means "same as src".
    */
  private def oKmCtes(iters: Int, src: String = "embeddings",
                      assignSrc: String = null): String = {
    val asrc = Option(assignSrc).getOrElse(src)
    val sb = new StringBuilder
    sb.append(
      s"""kmsrc AS MATERIALIZED (SELECT vec_id, embedding FROM $src kmsv
        WHERE embedding IS NOT NULL AND len(embedding) >= 64),
      kmseed AS (SELECT vec_id, embedding,
          row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296,
                             vec_id) AS rk
        FROM kmsrc),
      kmc0 AS (SELECT 0 AS iter, rk - 1 AS cell, t.d - 1 AS dim,
          embedding[t.d]::DOUBLE AS cval
        FROM kmseed, unnest(range(1, 65)) AS t(d) WHERE rk <= 16)""")
    for (t <- 1 to iters) {
      val p = t - 1
      sb.append(s""",
      kmcarr$p AS (SELECT cell, list(cval ORDER BY dim) AS cv
        FROM kmc$p GROUP BY cell),
      kmd$t AS (SELECT e.vec_id, c.cell,
          list_sum(list_transform(list_zip(e.embedding, c.cv),
            z -> (z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]))) AS d2
        FROM kmsrc e CROSS JOIN kmcarr$p c),
      kma$t AS (SELECT vec_id,
          list_position(l, list_min(l)) - 1 AS cell
        FROM (SELECT vec_id, list(d2 ORDER BY cell) AS l
              FROM kmd$t GROUP BY vec_id)),
      kmm$t AS (SELECT a.cell, t.d - 1 AS dim,
          round(cast(sum(cast(e.embedding[t.d]::DOUBLE AS decimal(18,9))) AS double)
            / count(*), 6) AS cval
        FROM kma$t a JOIN kmsrc e USING (vec_id),
             unnest(range(1, 65)) AS t(d)
        GROUP BY a.cell, t.d),
      kmc$t AS (SELECT $t AS iter, prev.cell, prev.dim,
          coalesce(m.cval, prev.cval) AS cval
        FROM kmc$p prev
        LEFT JOIN kmm$t m ON prev.cell = m.cell AND prev.dim = m.dim)""")
    }
    sb.append(s""",
      kmcarr$iters AS (SELECT cell, list(cval ORDER BY dim) AS cv
        FROM kmc$iters GROUP BY cell),
      kmasrc AS MATERIALIZED (SELECT vec_id, embedding FROM $asrc kmav
        WHERE embedding IS NOT NULL AND len(embedding) >= 64),
      kmdF AS (SELECT e.vec_id, c.cell,
          list_sum(list_transform(list_zip(e.embedding, c.cv),
            z -> (z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]))) AS d2
        FROM kmasrc e CROSS JOIN kmcarr$iters c)""")
    sb.toString
  }

  /** The trained-IVF-PQ top-k twin shared by p109 and p119: corpus
    * cells and query probes both from the TRAINED final snapshot
    * (kmdF), ADC distances recomputed directly from the planted PQ
    * codebook rule (the p103 machinery). Final relation `tivf` carries
    * (qid, vec_id, adc, rn) — consumers select `rn <= 5`.
    */
  private def oTrainedIvfCtes: String =
    s"""$oPqCodeCtes, ${oKmCtes(KmIters)},
        kccell AS (SELECT vec_id, cell FROM
            (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
                ORDER BY d2, cell) AS rn FROM kmdF)
          WHERE rn = 1),
        kqpr AS (SELECT vec_id AS qid, cell,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, cell) AS pr
          FROM kmdF WHERE vec_id % 50 = 0),
        kcand AS (SELECT p.qid, c.vec_id
          FROM (SELECT qid, cell FROM kqpr WHERE pr <= 4) p
          JOIN kccell c ON p.cell = c.cell),
        dm AS (SELECT cd.qid, cd.vec_id, b.m,
            list_sum(list_transform(
              list_transform(range(0, 8), j ->
                q.embedding[b.m*8 + j + 1]::DOUBLE
                  - (((b.m*7 + b.code*13 + j*29) % 41 - 20) / 20.0)),
              x -> x * x)) AS d
          FROM kcand cd
          JOIN embeddings q ON q.vec_id = cd.qid
          JOIN pqbest b ON cd.vec_id = b.vec_id),
        adc AS (SELECT qid, vec_id,
            list_sum(list(d ORDER BY m)) AS adc
          FROM dm GROUP BY qid, vec_id),
        tivf AS (SELECT qid, vec_id, adc,
            row_number() OVER (PARTITION BY qid
                               ORDER BY adc, vec_id) AS rn
          FROM adc)"""

  /** DuckDB twin of [[graft.functions.Pq.train]]: the per-subspace
    * Lloyd run unrolled. Emits `ptseed`, `pt0..ptN` (snapshots: iter,
    * m, cell, dim, cval), `ptarr0..ptarrN` (per-(m, cell) centroid
    * lists), and `ptbest` (final (vec, m) → code assignments against
    * ptarrN). MATERIALIZED throughout — the snapshot chain re-expands
    * exponentially otherwise (the oBpeCtes lesson).
    *
    * `src` generalizes the training relation (default: the raw
    * embeddings table): p126 passes the residual relation — any
    * (vec_id, embedding float[]) source, a table name or an aliasable
    * parenthesized subquery.
    *
    * The decimal means cast `::DOUBLE` BEFORE `AS decimal(18,9)`:
    * DuckDB's direct FLOAT→DECIMAL scales in float32 (0.1f →
    * 0.100000000) while Spark casts through the double expansion
    * (0.1f → 0.100000001); the conventions diverge by up to one
    * decimal ulp per element, which the residual-space training (p126)
    * surfaced as a round-6 mean landing on the flipped side of a
    * boundary. The double path is the shared exact semantics.
    */
  private def oPtCtes(iters: Int, src: String = "embeddings",
                      assignSrc: String = null): String = {
    val asrc = Option(assignSrc).getOrElse(src)
    val sb = new StringBuilder
    sb.append(
      s"""ptsrc AS MATERIALIZED (SELECT vec_id, embedding FROM $src sv
        WHERE embedding IS NOT NULL AND len(embedding) >= 64),
      ptseed AS (SELECT vec_id, embedding,
          row_number() OVER (ORDER BY (vec_id * 2654435761) % 4294967296,
                             vec_id) AS rk
        FROM ptsrc),
      pt0 AS MATERIALIZED (SELECT 0 AS iter, gm.m, rk - 1 AS cell,
          gj.j AS dim, embedding[gm.m*8 + gj.j + 1]::DOUBLE AS cval
        FROM ptseed, (SELECT unnest(range(0, 8)) AS m) gm,
             (SELECT unnest(range(0, 8)) AS j) gj
        WHERE rk <= 16)""")
    for (t <- 1 to iters) {
      val p = t - 1
      sb.append(s""",
      ptarr$p AS MATERIALIZED (SELECT m, cell, list(cval ORDER BY dim) AS cv
        FROM pt$p GROUP BY m, cell),
      ptd$t AS MATERIALIZED (SELECT e.vec_id, c.m, c.cell,
          list_sum(list_transform(range(0, 8), j ->
            (e.embedding[c.m*8 + j + 1]::DOUBLE - c.cv[j + 1])
              * (e.embedding[c.m*8 + j + 1]::DOUBLE - c.cv[j + 1]))) AS d2
        FROM ptsrc e CROSS JOIN ptarr$p c),
      pta$t AS MATERIALIZED (SELECT vec_id, m,
          list_position(l, list_min(l)) - 1 AS cell
        FROM (SELECT vec_id, m, list(d2 ORDER BY cell) AS l
              FROM ptd$t GROUP BY vec_id, m)),
      ptm$t AS MATERIALIZED (SELECT a.m, a.cell, gj.j AS dim,
          round(cast(sum(cast(e.embedding[a.m*8 + gj.j + 1]::DOUBLE
            AS decimal(18,9))) AS double) / count(*), 6) AS cval
        FROM pta$t a JOIN ptsrc e USING (vec_id),
             (SELECT unnest(range(0, 8)) AS j) gj
        GROUP BY a.m, a.cell, gj.j),
      pt$t AS MATERIALIZED (SELECT $t AS iter, prev.m, prev.cell,
          prev.dim, coalesce(mm.cval, prev.cval) AS cval
        FROM pt$p prev
        LEFT JOIN ptm$t mm ON prev.m = mm.m AND prev.cell = mm.cell
          AND prev.dim = mm.dim)""")
    }
    sb.append(s""",
      ptarr$iters AS MATERIALIZED (SELECT m, cell,
          list(cval ORDER BY dim) AS cv FROM pt$iters GROUP BY m, cell),
      ptasrc AS MATERIALIZED (SELECT vec_id, embedding FROM $asrc av
        WHERE embedding IS NOT NULL AND len(embedding) >= 64),
      ptdF AS MATERIALIZED (SELECT e.vec_id, c.m, c.cell,
          list_sum(list_transform(range(0, 8), j ->
            (e.embedding[c.m*8 + j + 1]::DOUBLE - c.cv[j + 1])
              * (e.embedding[c.m*8 + j + 1]::DOUBLE - c.cv[j + 1]))) AS d2
        FROM ptasrc e CROSS JOIN ptarr$iters c),
      ptbest AS MATERIALIZED (SELECT vec_id, m,
          list_position(l, list_min(l)) - 1 AS code
        FROM (SELECT vec_id, m, list(d2 ORDER BY cell) AS l
              FROM ptdF GROUP BY vec_id, m))""")
    sb.toString
  }

  /** DuckDB twin of [[graft.operators.BpeTrain.train]]: the full merge
    * run unrolled. Emits `bvoc` (word, freq), `bw0..bwN` (per-rank
    * symbol sequences: word, pos, sym) and `bbest1..bbestN` (the
    * selected merges). The greedy non-overlap rewrite is expressed via
    * run-parity window marks — an INDEPENDENT formulation of the
    * engine's left-to-right array fold (equivalence argued in the
    * BpeTrain scaladoc, proven by the differential check).
    */
  private def oBpeCtes(budget: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""bvoc AS MATERIALIZED (SELECT t.word, count(*) AS freq
        FROM documents,
             unnest(list_filter($oToks, x -> length(x) > 0)) AS t(word)
        WHERE regexp_matches(t.word, '^[a-z0-9]+$$')
        GROUP BY t.word),
      bw0 AS MATERIALIZED (SELECT word, t.i AS pos, substr(word, CAST(t.i AS int), 1) AS sym
        FROM bvoc, unnest(range(1, length(word) + 1)) AS t(i))""")
    for (t <- 1 to budget) {
      val p = t - 1
      sb.append(s""",
      bpc$t AS MATERIALIZED (SELECT a.sym AS l, b.sym AS r, sum(v.freq) AS cnt
        FROM bw$p a, bw$p b, bvoc v
        WHERE a.word = b.word AND b.pos = a.pos + 1 AND v.word = a.word
        GROUP BY a.sym, b.sym),
      bbest$t AS MATERIALIZED (SELECT l, r, cnt FROM bpc$t ORDER BY cnt DESC, l, r
        LIMIT 1),
      bmk$t AS MATERIALIZED (SELECT a.word, a.pos
        FROM bw$p a, bw$p b, bbest$t m
        WHERE a.word = b.word AND b.pos = a.pos + 1
          AND a.sym = m.l AND b.sym = m.r),
      bapp$t AS MATERIALIZED (SELECT word, pos FROM
          (SELECT word, pos,
              row_number() OVER (PARTITION BY word, grp ORDER BY pos) AS rix
           FROM (SELECT word, pos,
                   pos - row_number() OVER (PARTITION BY word ORDER BY pos)
                     AS grp
                 FROM bmk$t))
        WHERE rix % 2 = 1),
      bw$t AS MATERIALIZED (SELECT word,
          row_number() OVER (PARTITION BY word ORDER BY opos) AS pos, sym
        FROM (SELECT s.word, s.pos AS opos,
                CASE WHEN a.pos IS NOT NULL THEN s.sym || nx.sym
                     ELSE s.sym END AS sym
              FROM bw$p s
              LEFT JOIN bapp$t a ON a.word = s.word AND a.pos = s.pos
              LEFT JOIN bapp$t c ON c.word = s.word AND c.pos = s.pos - 1
              LEFT JOIN bw$p nx ON nx.word = s.word AND nx.pos = s.pos + 1
              WHERE c.pos IS NULL))""")
    }
    sb.toString
  }

  // DuckDB twin of FastText.scoreJava: per-doc non-empty tokens, rolling
  // codepoint hash h = (h*31 + cp) % 2^20 via list_reduce (prepended 0 =
  // the fold seed), unigram weight at h % 4096 and bigram weight at
  // (h1*131 + h2) % 4096, with the planted rule
  // w(j) = ((j*37 + 11) % 201) - 100 inlined arithmetically. Ends in
  // `sc(id, n_toks, score)`. All operands non-negative; products stay
  // under 2^27, overflow-free in BIGINT.
  private val oFtScoreCtes =
    s"""t AS (SELECT doc_id AS id,
          list_filter($oToks, x -> length(x) > 0) AS toks FROM documents),
    hh AS (SELECT id, list_transform(toks, tk ->
          list_reduce(list_prepend(0,
            list_transform(range(1, length(tk) + 1),
              j -> unicode(substr(tk, j, 1)))),
            (a, c) -> (a * 31 + c) % 1048576)) AS hs
        FROM t),
    sc AS (SELECT id, len(hs) AS n_toks,
          coalesce(list_sum(list_transform(hs,
            h -> ((h % 4096) * 37 + 11) % 201 - 100)), 0)
          + coalesce(list_sum(list_transform(range(1, len(hs)),
            i -> (((hs[i] * 131 + hs[i+1]) % 4096) * 37 + 11) % 201 - 100)),
            0) AS score
        FROM hh)"""

  // Training-side extension of the p93 hash walk: the per-doc feature
  // MULTISET (unigram h % 4096, bigram (h1*131 + h2) % 4096 — the exact
  // indices FastText.featuresJava emits) as rows, plus the lang-id
  // label. MATERIALIZED: fidx is consumed 2-3 times per query and the
  // hash walk must not re-expand per consumer.
  private val oFtFeatCtes =
    s"""$oFtScoreCtes,
    fidx AS MATERIALIZED (SELECT id, f FROM (
        SELECT id, unnest(list_transform(hs, h -> h % 4096)) AS f FROM hh
        UNION ALL
        SELECT id, unnest(list_transform(range(1, len(hs)),
          i -> (hs[i] * 131 + hs[i+1]) % 4096)) AS f FROM hh)),
    flab AS (SELECT doc_id AS id,
        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p FROM documents)"""

  // DuckDB twin of Bpe.bpeEncodeJava's greedy scan, as a RECURSIVE walk
  // carrying scalars only (cur position, piece count, id sum, positional
  // checksum — no list accumulation, so total work is O(total chars)).
  // The 3/2/1 CASE ladder mirrors the kernel's longest-first match; UNK
  // advances one codepoint like the kernel (charCount for non-BMP). Ends
  // with `walk`; the final state per id is the row with cur = length+1.
  private val oBpePid =
    """CASE WHEN substr(nt, cur, 1) = ' ' THEN NULL
        WHEN substr(nt, cur, 3) = 'the' THEN 50
        WHEN substr(nt, cur, 3) = 'ing' THEN 51
        WHEN substr(nt, cur, 3) = 'and' THEN 52
        WHEN substr(nt, cur, 3) = 'ion' THEN 53
        WHEN substr(nt, cur, 3) = 'ent' THEN 54
        WHEN substr(nt, cur, 3) = 'her' THEN 55
        WHEN substr(nt, cur, 2) = 'th' THEN 40
        WHEN substr(nt, cur, 2) = 'he' THEN 41
        WHEN substr(nt, cur, 2) = 'in' THEN 42
        WHEN substr(nt, cur, 2) = 'er' THEN 43
        WHEN substr(nt, cur, 2) = 'an' THEN 44
        WHEN substr(nt, cur, 2) = 're' THEN 45
        WHEN substr(nt, cur, 2) = 'on' THEN 46
        WHEN substr(nt, cur, 2) = 'at' THEN 47
        WHEN substr(nt, cur, 2) = 'en' THEN 48
        WHEN substr(nt, cur, 2) = 'nd' THEN 49
        WHEN substr(nt, cur, 1) BETWEEN 'a' AND 'z'
          THEN 1 + unicode(substr(nt, cur, 1)) - unicode('a')
        WHEN substr(nt, cur, 1) BETWEEN '0' AND '9'
          THEN 27 + unicode(substr(nt, cur, 1)) - unicode('0')
        ELSE 0 END"""

  private val oBpeStep =
    """CASE WHEN substr(nt, cur, 1) = ' ' THEN 1
        WHEN substr(nt, cur, 3) IN ('the','ing','and','ion','ent','her') THEN 3
        WHEN substr(nt, cur, 2) IN
          ('th','he','in','er','an','re','on','at','en','nd') THEN 2
        ELSE 1 END"""

  private val oBpeWalk =
    s"""WITH RECURSIVE d AS (SELECT doc_id AS id, $oNorm AS nt FROM documents),
    walk AS (
      SELECT id, nt, 1 AS cur, 0 AS cnt,
            cast(0 AS bigint) AS id_sum, cast(0 AS bigint) AS checksum
      FROM d
      UNION ALL
      SELECT id, nt,
            cur + $oBpeStep,
            cnt + CASE WHEN substr(nt, cur, 1) = ' ' THEN 0 ELSE 1 END,
            id_sum + coalesce($oBpePid, 0),
            checksum + coalesce(cast(cnt + 1 AS bigint) * ($oBpePid), 0)
      FROM walk WHERE cur <= length(nt))"""

  // Big-vocab twin: the oracle REBUILDS the ~12k-entry merge table's
  // membership arithmetically (v = Σ (c_i - 'a')·26^i; member iff
  // v % {2,4,64} = 0 by length; id = {100,1000,20000} + v) instead of
  // carrying a table — so the Spark side's broadcast + hash-probe path
  // is differentially checked against pure closed-form arithmetic.
  // DuckDB's unicode('') = -1 (no error) and lexicographic BETWEEN on
  // single chars make the out-of-range guards safe without short-circuit
  // assumptions.
  private def oBigV(len: Int): String =
    (0 until len).map { i =>
      val p = if (i == 0) "cur" else s"cur+$i"
      val w = math.pow(26, i).toInt
      if (w == 1) s"(unicode(substr(nt, $p, 1)) - 97)"
      else s"(unicode(substr(nt, $p, 1)) - 97) * $w"
    }.mkString(" + ")

  private def oBigAlpha(len: Int): String =
    (0 until len).map { i =>
      val p = if (i == 0) "cur" else s"cur+$i"
      s"substr(nt, $p, 1) BETWEEN 'a' AND 'z'"
    }.mkString(" AND ")

  private val oBpeBigPid =
    s"""CASE WHEN substr(nt, cur, 1) = ' ' THEN NULL
        WHEN ${oBigAlpha(4)} AND (${oBigV(4)}) % 64 = 0
          THEN 20000 + (${oBigV(4)})
        WHEN ${oBigAlpha(3)} AND (${oBigV(3)}) % 4 = 0
          THEN 1000 + (${oBigV(3)})
        WHEN ${oBigAlpha(2)} AND (${oBigV(2)}) % 2 = 0
          THEN 100 + (${oBigV(2)})
        WHEN substr(nt, cur, 1) BETWEEN 'a' AND 'z'
          THEN 1 + unicode(substr(nt, cur, 1)) - unicode('a')
        WHEN substr(nt, cur, 1) BETWEEN '0' AND '9'
          THEN 27 + unicode(substr(nt, cur, 1)) - unicode('0')
        ELSE 0 END"""

  private val oBpeBigStep =
    s"""CASE WHEN substr(nt, cur, 1) = ' ' THEN 1
        WHEN ${oBigAlpha(4)} AND (${oBigV(4)}) % 64 = 0 THEN 4
        WHEN ${oBigAlpha(3)} AND (${oBigV(3)}) % 4 = 0 THEN 3
        WHEN ${oBigAlpha(2)} AND (${oBigV(2)}) % 2 = 0 THEN 2
        ELSE 1 END"""

  private val oBpeBigWalk =
    s"""WITH RECURSIVE d AS (SELECT doc_id AS id, $oNorm AS nt FROM documents),
    walk AS (
      SELECT id, nt, 1 AS cur, 0 AS cnt,
            cast(0 AS bigint) AS id_sum, cast(0 AS bigint) AS checksum
      FROM d
      UNION ALL
      SELECT id, nt,
            cur + $oBpeBigStep,
            cnt + CASE WHEN substr(nt, cur, 1) = ' ' THEN 0 ELSE 1 END,
            id_sum + coalesce($oBpeBigPid, 0),
            checksum + coalesce(cast(cnt + 1 AS bigint) * ($oBpeBigPid), 0)
      FROM walk WHERE cur <= length(nt))"""

  // Web-funnel twin (p73, and p77 verbatim — the WARC parse layer must be
  // transparent): canonical-URL keep-first, block-extraction quality gate,
  // content-fingerprint keep-first, per-host stage counts.
  private val oWebFunnelSql =
    s"""$oHtmlCtes,
        $oBlockCtes,
        $oUrlCtes,
        mt AS (SELECT id, coalesce(array_to_string(
                 list_transform(kept, rr -> rr.t), ' '), '') AS main_text,
               cast(len(kept) AS integer) AS n_kept FROM k),
        surv AS (SELECT *, row_number() OVER (PARTITION BY canon_url
                   ORDER BY id) AS rk FROM f),
        s1 AS (SELECT surv.id, surv.host, mt.main_text, mt.n_kept,
                 length(mt.main_text) AS main_chars
               FROM surv JOIN mt ON surv.id = mt.id WHERE surv.rk = 1),
        gated AS (SELECT *, md5(regexp_replace(main_text,
                    '^doc [0-9]+ & heading <x> ?', '')) AS fp
                  FROM s1 WHERE main_chars >= 120 AND n_kept >= 2),
        ded AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY id)
                  AS rk2 FROM gated),
        st0 AS (SELECT host, count(*) AS n_urls,
                  count(DISTINCT canon_url) AS n_canonical FROM f GROUP BY host),
        st1 AS (SELECT host, count(*) AS n_quality FROM gated GROUP BY host),
        st2 AS (SELECT host, count(*) AS n_final FROM ded WHERE rk2 = 1
                GROUP BY host)
        SELECT st0.host, cast(st0.n_urls AS bigint) AS n_urls,
              cast(st0.n_canonical AS bigint) AS n_canonical,
              cast(coalesce(st1.n_quality, 0) AS bigint) AS n_quality,
              cast(coalesce(st2.n_final, 0) AS bigint) AS n_final
        FROM st0 LEFT JOIN st1 ON st0.host = st1.host
                 LEFT JOIN st2 ON st0.host = st2.host
        ORDER BY st0.host"""

  // Image–text pair twin, shared by p142 (batch) and p149 (streaming —
  // answer-invisible by contract): every figure, target id, decoded
  // caption, alt fallback, gate, language, and canonical-URL join
  // outcome recomputed closed-form from the id arithmetic.
  private val OImageTextPairsSql =
    s"""WITH pfa AS (SELECT doc_id AS id FROM documents),
        pfig AS (SELECT id, t.j AS j, (id - id % 4) + 4*t.j AS tgt
          FROM pfa, unnest(range(0, id % 3)) AS t(j)),
        pcap AS (SELECT id, j, tgt,
            CASE WHEN (id + j) % 3 <> 2 AND (id + j) % 2 = 0
              THEN 'a planted photo & the caption of doc ' || tgt
                   || ' and slot ' || j
              WHEN (id + j) % 3 <> 2
              THEN 'le photo & la caption planted doc ' || tgt
                   || ' slot ' || j
              ELSE 'thumb' || tgt END AS caption
          FROM pfig),
        plng AS (SELECT id, j, tgt, caption,
            CASE
              WHEN ' ' || caption || ' ' LIKE '% the %'
                OR ' ' || caption || ' ' LIKE '% and %' THEN 'en'
              WHEN ' ' || caption || ' ' LIKE '% le %'
                OR ' ' || caption || ' ' LIKE '% la %' THEN 'fr'
              WHEN ' ' || caption || ' ' LIKE '% der %'
                OR ' ' || caption || ' ' LIKE '% und %' THEN 'de'
              WHEN ' ' || caption || ' ' LIKE '% el %'
                OR ' ' || caption || ' ' LIKE '% los %' THEN 'es'
              ELSE 'unknown' END AS caption_lang
          FROM pcap),
        pimg AS (SELECT doc_id AS tgt FROM documents WHERE doc_id % 4 = 0)
        SELECT c.id AS page_id, CAST(c.j AS integer) AS fig_idx,
               coalesce(i.tgt, -1) AS image_id, c.caption, c.caption_lang,
               CAST(len(string_split(c.caption, ' ')) AS integer)
                 AS n_caption_words,
               len(string_split(c.caption, ' ')) >= 3 AS kept,
               i.tgt IS NOT NULL AS decoded
        FROM plng c LEFT JOIN pimg i ON c.tgt = i.tgt
        ORDER BY page_id, fig_idx"""

  val oracles: Map[String, String] = Map(
    "p41_ngram_perplexity" ->
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
        bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                 i -> list_extract(toks, i) || ' ' || list_extract(toks, i+1))) AS bg
               FROM t WHERE len(toks) >= 2),
        v AS (SELECT count(DISTINCT w) AS vocab
              FROM (SELECT unnest(toks) AS w FROM t)),
        bc AS (SELECT bg, count(*) AS c_bg FROM bg GROUP BY bg),
        cc AS (SELECT string_split(bg, ' ')[1] AS w1, sum(c_bg) AS c_ctx
               FROM bc GROUP BY 1),
        m AS (SELECT bc.bg, bc.c_bg, cc.c_ctx
              FROM bc JOIN cc ON string_split(bc.bg, ' ')[1] = cc.w1)
        SELECT bg.doc_id AS id, count(*) AS n_bigrams,
               round(sum(-log2((m.c_bg + 0.5) / (m.c_ctx + 0.5 * v.vocab)))
                     / count(*), 4) AS log2_ppl
        FROM bg JOIN m ON bg.bg = m.bg, v
        GROUP BY bg.doc_id ORDER BY id""",

    "p42_dup_span_coverage" ->
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
        w AS (SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, len(toks) - 8 + 2),
                i -> array_to_string(list_slice(toks, i, i + 7), ' ')))) AS win
              FROM t WHERE len(toks) >= 8),
        d AS (SELECT win FROM w GROUP BY win HAVING min(doc_id) < max(doc_id))
        SELECT w.doc_id AS id, count(*) AS n_windows,
               count(d.win) AS n_dup_windows,
               round(count(d.win)::double / count(*), 6) AS dup_frac
        FROM w LEFT JOIN d ON w.win = d.win
        GROUP BY w.doc_id ORDER BY id""",

    "p44_temperature_mixture" ->
      """WITH c AS (SELECT source, count(*)::double AS n
                    FROM documents GROUP BY source),
         s AS (SELECT sum(sqrt(n)) AS denom FROM c),
         f AS (SELECT source,
                 round(least(1.0, 200 * (sqrt(n) / denom) / n) * 1000000)
                   / 1000000 AS keep
               FROM c, s)
         SELECT d.doc_id, d.source
         FROM documents d JOIN f ON d.source = f.source
         WHERE ((d.doc_id % 4294967296) * 1103515245) % 4294967296 <
               cast(trunc(f.keep * 4294967296.0) AS bigint)
         ORDER BY d.doc_id""",

    "p45_span_cut" ->
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
        w AS (SELECT doc_id, i - 1 AS pos,
                array_to_string(list_slice(toks, i, i + 7), ' ') AS win
              FROM t, unnest(range(1, len(toks) - 8 + 2)) AS u(i)
              WHERE len(toks) >= 8),
        g AS (SELECT win, min(doc_id) AS mn FROM w GROUP BY win
              HAVING min(doc_id) < max(doc_id)),
        cov AS (SELECT DISTINCT w.doc_id, w.pos + v.k AS tp
                FROM w JOIN g ON w.win = g.win AND w.doc_id <> g.mn,
                     unnest(range(0, 8)) AS v(k)),
        tok AS (SELECT doc_id, j - 1 AS tp, list_extract(toks, j) AS tok
                FROM t, unnest(range(1, len(toks) + 1)) AS u2(j)),
        kept AS (SELECT tok.doc_id,
                        string_agg(tok.tok, ' ' ORDER BY tok.tp) AS txt
                 FROM tok LEFT JOIN cov
                   ON tok.doc_id = cov.doc_id AND tok.tp = cov.tp
                 WHERE cov.tp IS NULL GROUP BY tok.doc_id),
        cuts AS (SELECT doc_id, count(*) AS n_cut FROM cov GROUP BY doc_id)
        SELECT t.doc_id AS id, cast(len(t.toks) AS bigint) AS n_tokens,
               cast(coalesce(cuts.n_cut, 0) AS bigint) AS n_tokens_cut,
               coalesce(kept.txt, '') AS clean_text
        FROM t LEFT JOIN cuts ON t.doc_id = cuts.doc_id
               LEFT JOIN kept ON t.doc_id = kept.doc_id
        ORDER BY id""",

    "p43_source_quota_cap" ->
      """WITH r AS (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY ((doc_id % 4294967296) * 1103515245) % 4294967296,
                        doc_id) AS rk
           FROM documents)
         SELECT doc_id, source, cast(rk AS integer) AS rk
         FROM r WHERE rk <= 10 ORDER BY doc_id""",

    "p46_filter_funnel" ->
      s"""WITH t AS (SELECT doc_id, $oNorm AS norm, $oToks AS toks FROM documents),
        f AS (SELECT doc_id,
                len(toks) >= 10 AS c1,
                (CASE WHEN ' '||norm||' ' LIKE '% the %' OR ' '||norm||' ' LIKE '% and %' THEN 'en'
                      WHEN ' '||norm||' ' LIKE '% le %' OR ' '||norm||' ' LIKE '% la %' THEN 'fr'
                      WHEN ' '||norm||' ' LIKE '% der %' OR ' '||norm||' ' LIKE '% und %' THEN 'de'
                      WHEN ' '||norm||' ' LIKE '% el %' OR ' '||norm||' ' LIKE '% los %' THEN 'es'
                      ELSE 'unknown' END) <> 'unknown' AS c2,
                round(
                  least(len(toks)::double / 100.0, 1.0) * 0.4 +
                  least((CASE WHEN len(toks) > 0
                         THEN len(list_filter(toks, x -> x IN
                           ('the','a','an','and','or','of','to','in','is','it')))::double / len(toks)
                         ELSE 0.0 END) * 5.0, 1.0) * 0.3 +
                  (CASE WHEN (CASE WHEN len(toks) > 0
                              THEN length(regexp_replace(norm, ' ', '', 'g'))::double / len(toks)
                              ELSE 0.0 END) BETWEEN 3.0 AND 10.0
                        THEN 1.0 ELSE 0.5 END) * 0.3, 6) >= 0.5 AS c3
              FROM t),
        u AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS g FROM t),
        m1 AS (SELECT doc_id, round(max(c)::double / greatest(max(n), 1), 6) AS share
               FROM (SELECT doc_id, g, count(*) AS c, max(n) AS n
                     FROM u GROUP BY doc_id, g)
               GROUP BY doc_id),
        p AS (SELECT f.doc_id, f.c1 AS p1, f.c1 AND f.c2 AS p2,
                     f.c1 AND f.c2 AND f.c3 AS p3,
                     f.c1 AND f.c2 AND f.c3 AND coalesce(m1.share, 0.0) <= 0.2 AS p4
              FROM f LEFT JOIN m1 USING (doc_id)),
        a AS (SELECT count(*) AS n0,
                     cast(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS bigint) AS n1,
                     cast(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS bigint) AS n2,
                     cast(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS bigint) AS n3,
                     cast(sum(CASE WHEN p4 THEN 1 ELSE 0 END) AS bigint) AS n4
              FROM p)
        SELECT 0 AS stage_idx, 'input' AS stage, n0 AS n_in, n0 AS n_out FROM a
        UNION ALL SELECT 1, 'min_tokens', n0, n1 FROM a
        UNION ALL SELECT 2, 'lang_known', n1, n2 FROM a
        UNION ALL SELECT 3, 'quality', n2, n3 FROM a
        UNION ALL SELECT 4, 'repetition', n3, n4 FROM a
        ORDER BY stage_idx""",

    "p47_dsir_weights" ->
      s"""WITH t AS (SELECT doc_id, (lang = 'en') AS tgt, $oToks AS toks FROM documents),
        bg AS (SELECT doc_id, tgt, unnest(list_transform(range(1, len(toks)),
                 i -> list_extract(toks, i) || ' ' || list_extract(toks, i+1))) AS bg
               FROM t WHERE len(toks) >= 2),
        c AS (SELECT bg, count(*) AS c_r,
                     sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_t
              FROM bg GROUP BY bg),
        s AS (SELECT sum(c_r)::double AS nr, sum(c_t)::double AS nt,
                     count(*)::double AS v FROM c)
        SELECT bg.doc_id AS id, count(*) AS n_bigrams,
               cast(sum(cast(
                       log2((c.c_t + 0.5) / (s.nt + 0.5 * s.v)) -
                       log2((c.c_r + 0.5) / (s.nr + 0.5 * s.v))
                     AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS llr_micro
        FROM bg JOIN c USING (bg), s
        GROUP BY bg.doc_id ORDER BY id""",

    // Same recursive-CTE cluster derivation as p18, then the p04 quality
    // formula picks each cluster's best member (ties to the lowest id).
    "p48_best_of_cluster" ->
      s"""WITH RECURSIVE t AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-5+2),
                   i -> array_to_string(list_slice(toks, i, i+4), ' '))) AS sh
          FROM (SELECT doc_id, string_split($oNorm, ' ') AS toks FROM documents)
          WHERE len(toks) >= 5),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM t a JOIN t b ON a.doc_id < b.doc_id
          WHERE round(len(list_intersect(a.sh,b.sh))::double /
                      len(list_distinct(a.sh || b.sh)), 6) >= 0.5),
        e AS (SELECT id_a AS s, id_b AS d FROM p
              UNION ALL SELECT id_b, id_a FROM p),
        rec AS (
          SELECT doc_id AS id, doc_id AS reach FROM documents
          UNION
          SELECT e.s, rec.reach FROM e JOIN rec ON e.d = rec.id),
        cl AS (SELECT id AS doc_id, min(reach) AS cluster_id
               FROM rec GROUP BY id),
        q AS (SELECT doc_id,
                round(
                  least(len($oToks)::double / 100.0, 1.0) * 0.4 +
                  least((CASE WHEN len($oToks) > 0
                         THEN len(list_filter($oToks, x -> x IN
                           ('the','a','an','and','or','of','to','in','is','it')))::double / len($oToks)
                         ELSE 0.0 END) * 5.0, 1.0) * 0.3 +
                  (CASE WHEN (CASE WHEN len($oToks) > 0
                              THEN length(regexp_replace($oNorm, ' ', '', 'g'))::double / len($oToks)
                              ELSE 0.0 END) BETWEEN 3.0 AND 10.0
                        THEN 1.0 ELSE 0.5 END) * 0.3, 6) AS quality
              FROM documents),
        m AS (SELECT cl.cluster_id, cl.doc_id, q.quality,
                     row_number() OVER (PARTITION BY cl.cluster_id
                       ORDER BY q.quality DESC, cl.doc_id) AS rk
              FROM cl JOIN q USING (doc_id)),
        sz AS (SELECT cluster_id, count(*) AS n_members
               FROM cl GROUP BY cluster_id)
        SELECT m.cluster_id, m.doc_id AS keep_id, m.quality AS best_score,
               sz.n_members
        FROM m JOIN sz USING (cluster_id)
        WHERE m.rk = 1 ORDER BY m.cluster_id""",

    "p01_dedup_exact_groups" ->
      s"""SELECT md5($oNorm) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY fp ORDER BY fp""",

    "p02_dedup_exact_rows" ->
      s"""SELECT doc_id, n_chars FROM (
          SELECT doc_id, n_chars,
                 row_number() OVER (PARTITION BY md5($oNorm) ORDER BY doc_id) AS rn
          FROM documents) WHERE rn = 1 ORDER BY doc_id""",

    "p03_text_stats" ->
      s"""SELECT doc_id,
          cast(length($oNorm) AS integer) AS n_chars_norm,
          cast(len($oToks) AS integer) AS n_tokens,
          cast(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS integer) AS n_bpe_tokens,
          round(CASE WHEN len($oToks) > 0
                THEN length(regexp_replace($oNorm, ' ', '', 'g'))::double / len($oToks)
                ELSE 0.0 END, 6) AS mean_token_len
        FROM documents ORDER BY doc_id""",

    "p04_quality_score" ->
      s"""SELECT doc_id,
          round(
            least(len($oToks)::double / 100.0, 1.0) * 0.4 +
            least((CASE WHEN len($oToks) > 0
                   THEN len(list_filter($oToks, t -> t IN
                     ('the','a','an','and','or','of','to','in','is','it')))::double / len($oToks)
                   ELSE 0.0 END) * 5.0, 1.0) * 0.3 +
            (CASE WHEN (CASE WHEN len($oToks) > 0
                        THEN length(regexp_replace($oNorm, ' ', '', 'g'))::double / len($oToks)
                        ELSE 0.0 END) BETWEEN 3.0 AND 10.0
                  THEN 1.0 ELSE 0.5 END) * 0.3, 6) AS quality
        FROM documents ORDER BY doc_id""",

    "p05_lang_id" ->
      s"""SELECT CASE
          WHEN ' ' || $oNorm || ' ' LIKE '% the %' OR ' ' || $oNorm || ' ' LIKE '% and %' THEN 'en'
          WHEN ' ' || $oNorm || ' ' LIKE '% le %' OR ' ' || $oNorm || ' ' LIKE '% la %' THEN 'fr'
          WHEN ' ' || $oNorm || ' ' LIKE '% der %' OR ' ' || $oNorm || ' ' LIKE '% und %' THEN 'de'
          WHEN ' ' || $oNorm || ' ' LIKE '% el %' OR ' ' || $oNorm || ' ' LIKE '% los %' THEN 'es'
          ELSE 'unknown' END AS lang_pred, count(*) AS n
        FROM documents GROUP BY lang_pred ORDER BY lang_pred""",

    "p06_multimodal_bytes" ->
      """SELECT doc_id AS media_id, 'image' AS modality,
              cast(strlen(text) AS integer) AS byte_len,
              md5(text) AS content_md5,
              'fake/raw' AS format
         FROM documents ORDER BY media_id""",

    "p07_jaccard_pairs" ->
      s"""WITH t AS (SELECT doc_id, list_distinct($oToks) AS toks
                   FROM documents WHERE doc_id < 100)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.toks, b.toks))::double /
                     len(list_distinct(a.toks || b.toks)), 6) AS jaccard
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE round(len(list_intersect(a.toks, b.toks))::double /
                    len(list_distinct(a.toks || b.toks)), 6) >= 0.5
        ORDER BY id_a, id_b""",

    // All-pairs exact 5-shingle jaccard — equals the LSH-accelerated Spark
    // answer because candidate recall at j ≥ 0.5 is ≈ 1 (see Dedup scaladoc).
    "p08_minhash_pairs" ->
      s"""WITH t AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-5+2),
                   i -> array_to_string(list_slice(toks, i, i+4), ' '))) AS sh
          FROM (SELECT doc_id, string_split($oNorm, ' ') AS toks FROM documents)
          WHERE len(toks) >= 5)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.sh,b.sh))::double /
                     len(list_distinct(a.sh || b.sh)), 6) AS jaccard
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE round(len(list_intersect(a.sh,b.sh))::double /
                    len(list_distinct(a.sh || b.sh)), 6) >= 0.5
        ORDER BY id_a, id_b""",

    // Recursive reachability over the same successor-edge chain: every
    // node's component label is the min id it can reach — byte-identical
    // to the distributed star-contraction result.
    "p38_star_components" ->
      """WITH RECURSIVE n AS (
          SELECT doc_id AS id FROM documents WHERE doc_id < 200),
        p AS (SELECT a.id AS id_a, b.id AS id_b
              FROM n a JOIN n b ON b.id = a.id + 1),
        e AS (SELECT id_a AS s, id_b AS d FROM p
              UNION ALL SELECT id_b, id_a FROM p),
        rec AS (
          SELECT id, id AS reach FROM n
          UNION
          SELECT e.s, rec.reach FROM e JOIN rec ON e.d = rec.id)
        SELECT id, min(reach) AS cluster_id
        FROM rec GROUP BY id ORDER BY id""",

    // Greedy sequential-ingest semantics re-derived with correlated NOT
    // EXISTS over exact all-pairs jaccard: a doc survives its own batch iff
    // no lower SAME-PARITY id near-dups it (minhashDedup's greedy rule —
    // the lower doc need not itself survive), and an odd-batch survivor is
    // admitted iff no even-batch SURVIVOR near-dups it. Docs under 5 tokens
    // have no shingles, hence no pairs, hence always survive — the oracle
    // iterates over ALL documents, not just shingled ones.
    "p40_sequential_ingest" ->
      s"""WITH t AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-5+2),
                   i -> array_to_string(list_slice(toks, i, i+4), ' '))) AS sh
          FROM (SELECT doc_id, string_split($oNorm, ' ') AS toks FROM documents)
          WHERE len(toks) >= 5),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM t a JOIN t b ON a.doc_id < b.doc_id
          WHERE round(len(list_intersect(a.sh,b.sh))::double /
                      len(list_distinct(a.sh || b.sh)), 6) >= 0.5),
        ev AS (
          SELECT doc_id FROM documents d WHERE doc_id % 2 = 0 AND NOT EXISTS
            (SELECT 1 FROM p WHERE p.id_b = d.doc_id AND p.id_a % 2 = 0)),
        od AS (
          SELECT doc_id FROM documents d WHERE doc_id % 2 = 1 AND NOT EXISTS
            (SELECT 1 FROM p WHERE p.id_b = d.doc_id AND p.id_a % 2 = 1)),
        adm AS (
          SELECT od.doc_id FROM od WHERE NOT EXISTS (
            SELECT 1 FROM p
            WHERE (p.id_a = od.doc_id AND p.id_b IN (SELECT doc_id FROM ev))
               OR (p.id_b = od.doc_id AND p.id_a IN (SELECT doc_id FROM ev))))
        SELECT doc_id, 0 AS batch FROM ev
        UNION ALL SELECT doc_id, 1 AS batch FROM adm
        ORDER BY doc_id""",

    // Cross-side all-pairs exact jaccard — the incremental path's candidate
    // restriction (batch x corpus only) changes WHICH pairs are scanned,
    // never the answer, so the oracle is the straightforward cross join of
    // the two id-ranges (same full-recall argument as p08).
    "p37_incremental_neardup" ->
      s"""WITH t AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-5+2),
                   i -> array_to_string(list_slice(toks, i, i+4), ' '))) AS sh
          FROM (SELECT doc_id, string_split($oNorm, ' ') AS toks FROM documents)
          WHERE len(toks) >= 5)
        SELECT a.doc_id AS corpus_id, b.doc_id AS batch_id,
               round(len(list_intersect(a.sh,b.sh))::double /
                     len(list_distinct(a.sh || b.sh)), 6) AS jaccard
        FROM t a JOIN t b ON a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8
        WHERE round(len(list_intersect(a.sh,b.sh))::double /
                    len(list_distinct(a.sh || b.sh)), 6) >= 0.5
        ORDER BY corpus_id, batch_id""",

    // Same exact pair list; the simhash hamming bound is the invariant under
    // test (near-dup docs must hash to nearby 64-bit signatures).
    "p09_simhash_sigs" ->
      s"""WITH t AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-5+2),
                   i -> array_to_string(list_slice(toks, i, i+4), ' '))) AS sh
          FROM (SELECT doc_id, string_split($oNorm, ' ') AS toks FROM documents)
          WHERE len(toks) >= 5)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.sh,b.sh))::double /
                     len(list_distinct(a.sh || b.sh)), 6) AS jaccard,
               true AS hamming_le_16
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE round(len(list_intersect(a.sh,b.sh))::double /
                    len(list_distinct(a.sh || b.sh)), 6) >= 0.5
        ORDER BY id_a, id_b""",

    "p10_embedding_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                  FROM embeddings WHERE vec_id < 3),
        s AS (
          SELECT q.query_id, e.vec_id,
                 round(
                   list_sum(list_transform(list_zip(e.embedding, q.qv),
                     x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
                   (sqrt(list_sum(list_transform(e.embedding, y -> y::DOUBLE * y::DOUBLE))) *
                    sqrt(list_sum(list_transform(q.qv, y -> y::DOUBLE * y::DOUBLE)))), 4) AS cos
          FROM embeddings e CROSS JOIN q),
        r AS (SELECT query_id, vec_id, cos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, vec_id) AS rk
              FROM s)
        SELECT query_id, vec_id, cos, cast(rk AS integer) AS rk
        FROM r WHERE rk <= 10 ORDER BY query_id, rk""",

    // Histogram invariants: every embedding lands in exactly one bucket and
    // all buckets are in [0, 2^8).
    "p11_embedding_lsh_buckets" ->
      """SELECT count(*) AS n_vecs, count(*) AS n_in_range FROM embeddings""",

    // Differential ANN oracle: recompute the axis-sign buckets, the 7
    // multi-probe buckets per query (hamming <= 1 over 6 bits), the exact
    // candidate set, and the top-k over it — byte-identical to Spark's.
    "p12_ann_lsh_topk" ->
      """WITH c AS (
          SELECT vec_id, embedding,
                 (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
                + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END
                + CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END
                + CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS bucket
          FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qv, bucket AS b0
              FROM c WHERE vec_id < 3),
        probes AS (SELECT query_id, qv, xor(b0, m) AS bucket
                   FROM q, unnest([0,1,2,4,8,16,32]) AS t(m)),
        s AS (
          SELECT p.query_id, c.vec_id,
                 round(
                   list_sum(list_transform(list_zip(c.embedding, p.qv),
                     x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
                   (sqrt(list_sum(list_transform(c.embedding, y -> y::DOUBLE * y::DOUBLE))) *
                    sqrt(list_sum(list_transform(p.qv, y -> y::DOUBLE * y::DOUBLE)))), 4) AS cos
          FROM c JOIN probes p USING (bucket)),
        r AS (SELECT query_id, vec_id, cos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, vec_id) AS rk
              FROM s)
        SELECT query_id, vec_id, cos, cast(rk AS integer) AS rk
        FROM r WHERE rk <= 10 ORDER BY query_id, rk""",

    "p18_dup_clusters" ->
      s"""WITH RECURSIVE t AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-5+2),
                   i -> array_to_string(list_slice(toks, i, i+4), ' '))) AS sh
          FROM (SELECT doc_id, string_split($oNorm, ' ') AS toks FROM documents)
          WHERE len(toks) >= 5),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM t a JOIN t b ON a.doc_id < b.doc_id
          WHERE round(len(list_intersect(a.sh,b.sh))::double /
                      len(list_distinct(a.sh || b.sh)), 6) >= 0.5),
        e AS (SELECT id_a AS s, id_b AS d FROM p
              UNION ALL SELECT id_b, id_a FROM p),
        rec AS (
          SELECT doc_id AS id, doc_id AS reach FROM documents
          UNION
          SELECT e.s, rec.reach FROM e JOIN rec ON e.d = rec.id)
        SELECT id AS doc_id, min(reach) AS cluster_id
        FROM rec GROUP BY id ORDER BY doc_id""",

    // Same cluster derivation as p18, then the p33 split hash applied to
    // the CLUSTER id instead of the doc id.
    "p39_leakage_free_splits" ->
      s"""WITH RECURSIVE t AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-5+2),
                   i -> array_to_string(list_slice(toks, i, i+4), ' '))) AS sh
          FROM (SELECT doc_id, string_split($oNorm, ' ') AS toks FROM documents)
          WHERE len(toks) >= 5),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM t a JOIN t b ON a.doc_id < b.doc_id
          WHERE round(len(list_intersect(a.sh,b.sh))::double /
                      len(list_distinct(a.sh || b.sh)), 6) >= 0.5),
        e AS (SELECT id_a AS s, id_b AS d FROM p
              UNION ALL SELECT id_b, id_a FROM p),
        rec AS (
          SELECT doc_id AS id, doc_id AS reach FROM documents
          UNION
          SELECT e.s, rec.reach FROM e JOIN rec ON e.d = rec.id),
        cl AS (SELECT id AS doc_id, min(reach) AS cluster_id
               FROM rec GROUP BY id)
        SELECT split, count(*) AS n_docs,
               count(DISTINCT cluster_id) AS n_clusters FROM (
          SELECT cluster_id,
                 CASE WHEN h < 3865470566 THEN 'train'
                      WHEN h < 4080218931 THEN 'val'
                      ELSE 'test' END AS split
          FROM (SELECT cluster_id,
                       ((cluster_id % 4294967296) * 1103515245) % 4294967296 AS h
                FROM cl))
        GROUP BY split ORDER BY split""",

    "p17_source_similarity" ->
      s"""WITH s AS (SELECT source,
              list_distinct(flatten(list(string_split($oNorm, ' ')))) AS ts
            FROM documents GROUP BY source)
        SELECT a.source AS src_a, b.source AS src_b,
               round(len(list_intersect(a.ts,b.ts))::double /
                     len(list_distinct(a.ts || b.ts)), 6) AS exact_jaccard,
               true AS est_close
        FROM s a JOIN s b ON a.source < b.source
        ORDER BY src_a, src_b""",

    "p16_frame_sampling" ->
      """SELECT media_id, count(*) AS n_frames,
              cast(sum(flen) AS bigint) AS total_frame_bytes FROM (
           SELECT doc_id AS media_id,
                  least(100, strlen(text) - i*200) AS flen
           FROM documents, unnest(range(0, (strlen(text)-1)//200 + 1)) AS u(i))
         GROUP BY media_id ORDER BY media_id""",

    "p15_winnow_fingerprints" ->
      s"""WITH t AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-5+2),
                   i -> array_to_string(list_slice(toks, i, i+4), ' '))) AS sh
          FROM (SELECT doc_id, string_split($oNorm, ' ') AS toks FROM documents)
          WHERE len(toks) >= 5)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.sh,b.sh))::double /
                     len(list_distinct(a.sh || b.sh)), 6) AS jaccard,
               true AS winnow_overlap_ge_half
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE round(len(list_intersect(a.sh,b.sh))::double /
                    len(list_distinct(a.sh || b.sh)), 6) >= 0.5
        ORDER BY id_a, id_b""",

    "p14_minhash_dedup_survivors" ->
      s"""WITH t AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-5+2),
                   i -> array_to_string(list_slice(toks, i, i+4), ' '))) AS sh
          FROM (SELECT doc_id, string_split($oNorm, ' ') AS toks FROM documents)
          WHERE len(toks) >= 5),
        losers AS (
          SELECT DISTINCT b.doc_id AS id
          FROM t a JOIN t b ON a.doc_id < b.doc_id
          WHERE round(len(list_intersect(a.sh,b.sh))::double /
                      len(list_distinct(a.sh || b.sh)), 6) >= 0.5)
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT id FROM losers)
        ORDER BY doc_id""",

    "p22_doc_chunking" ->
      s"""WITH t AS (SELECT doc_id, string_split($oNorm, ' ') AS toks FROM documents),
        c AS (SELECT doc_id, i AS chunk_id,
                array_to_string(list_slice(toks, i*30 + 1, i*30 + 40), ' ') AS chunk
              FROM t, unnest(range(0, greatest(
                cast(ceil((len(toks) - 10) / 30.0) AS bigint), 1))) AS u(i))
        SELECT doc_id, cast(chunk_id AS integer) AS chunk_id, chunk,
               cast(len(string_split(chunk, ' ')) AS integer) AS n_chunk_tokens
        FROM c ORDER BY doc_id, chunk_id""",

    "p23_bm25_search" ->
      s"""WITH t AS (SELECT doc_id, string_split($oNorm, ' ') AS toks FROM documents),
        st AS (SELECT count(*) AS n,
                      sum(len(toks))::double / count(*) AS avgdl,
                      sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS df_spark,
                      sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS df_join,
                      sum(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END) AS df_window
               FROM t),
        sc AS (SELECT doc_id, round(
                 len(list_filter(toks, x -> x = 'spark'))::double * 2.2
                   * ln(1 + (n - df_spark + 0.5) / (df_spark + 0.5))
                   / (len(list_filter(toks, x -> x = 'spark'))::double
                      + 1.2 * (0.25 + 0.75 * len(toks)::double / avgdl))
               + len(list_filter(toks, x -> x = 'join'))::double * 2.2
                   * ln(1 + (n - df_join + 0.5) / (df_join + 0.5))
                   / (len(list_filter(toks, x -> x = 'join'))::double
                      + 1.2 * (0.25 + 0.75 * len(toks)::double / avgdl))
               + len(list_filter(toks, x -> x = 'window'))::double * 2.2
                   * ln(1 + (n - df_window + 0.5) / (df_window + 0.5))
                   / (len(list_filter(toks, x -> x = 'window'))::double
                      + 1.2 * (0.25 + 0.75 * len(toks)::double / avgdl)), 4) AS score
               FROM t, st),
        r AS (SELECT doc_id, score,
                     row_number() OVER (ORDER BY score DESC, doc_id) AS rk
              FROM sc WHERE score > 0)
        SELECT doc_id, score, cast(rk AS integer) AS rk
        FROM r WHERE rk <= 20 ORDER BY rk""",

    "p24_pii_redaction" ->
      s"""WITH e AS (SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or call 555-'
             || lpad(cast(doc_id % 1000 AS varchar), 3, '0') || '-'
             || lpad(cast((doc_id * 7) % 10000 AS varchar), 4, '0')
             || ' ssn 123-45-6789 ip 10.0.0.' || (doc_id % 256) AS t
           FROM documents)
        SELECT doc_id,
          cast(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS integer) AS n_emails,
          cast(len(regexp_extract_all(t, '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b')) AS integer) AS n_phones,
          cast(len(regexp_extract_all(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS integer) AS n_ssn,
          cast(len(regexp_extract_all(t, '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b')) AS integer) AS n_ip,
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g'),
              '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b', '[PHONE]', 'g'),
            '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b', '[IP]', 'g') AS redacted
        FROM e ORDER BY doc_id""",

    "p25_repetition_stats" ->
      s"""WITH t AS (SELECT doc_id, string_split($oNorm, ' ') AS toks FROM documents),
        u AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS g FROM t),
        m1 AS (SELECT doc_id, round(max(c)::double / greatest(max(n), 1), 6) AS max_token_share
               FROM (SELECT doc_id, g, count(*) AS c, max(n) AS n
                     FROM u GROUP BY doc_id, g)
               GROUP BY doc_id),
        b AS (SELECT doc_id, len(toks) AS n,
                     unnest(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i+1])) AS g
              FROM t),
        m2 AS (SELECT doc_id, round(max(c)::double / greatest(max(n), 1), 6) AS max_bigram_share
               FROM (SELECT doc_id, g, count(*) AS c, max(n) AS n
                     FROM b GROUP BY doc_id, g)
               GROUP BY doc_id)
        SELECT t.doc_id,
               coalesce(m1.max_token_share, 0.0) AS max_token_share,
               coalesce(m2.max_bigram_share, 0.0) AS max_bigram_share
        FROM t LEFT JOIN m1 USING (doc_id) LEFT JOIN m2 USING (doc_id)
        ORDER BY doc_id""",

    "p28_top_tokens" ->
      s"""WITH c AS (
          SELECT source AS grp, g AS tok, count(*) AS n
          FROM (SELECT source, unnest(string_split($oNorm, ' ')) AS g FROM documents)
          GROUP BY grp, tok),
        r AS (SELECT grp, tok, n,
                     row_number() OVER (PARTITION BY grp
                                        ORDER BY n DESC, tok) AS rk
              FROM c)
        SELECT grp, tok, n, cast(rk AS integer) AS rk
        FROM r WHERE rk <= 5 ORDER BY grp, rk""",

    "p27_centroid_confusion" ->
      """WITH x AS (SELECT label AS clabel, d, embedding[d] AS v
                  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(d)),
        c AS (SELECT clabel, d,
                     round(cast(sum(cast(v::DOUBLE AS decimal(18,9))) AS double) / count(*), 6) AS cv
              FROM x GROUP BY clabel, d),
        carr AS (SELECT clabel, list(cv ORDER BY d) AS cvec FROM c GROUP BY clabel),
        dist AS (SELECT e.vec_id, e.label, carr.clabel,
                        list_sum(list_transform(list_zip(e.embedding, carr.cvec),
                          p -> (p[1]::DOUBLE - p[2]) * (p[1]::DOUBLE - p[2]))) AS d2
                 FROM embeddings e CROSS JOIN carr),
        a AS (SELECT vec_id, label, clabel,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2, clabel) AS rn
              FROM dist)
        SELECT label, clabel AS assigned_label, count(*) AS n
        FROM a WHERE rn = 1
        GROUP BY label, assigned_label ORDER BY label, assigned_label""",

    "p26_decontamination" ->
      s"""WITH t AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-5+2),
                   i -> array_to_string(list_slice(toks, i, i+4), ' '))) AS sh
          FROM (SELECT doc_id, string_split($oNorm, ' ') AS toks FROM documents)
          WHERE len(toks) >= 5),
        c AS (SELECT * FROM t WHERE doc_id % 10 <> 9),
        b AS (SELECT * FROM t WHERE doc_id % 10 = 9)
        SELECT c.doc_id AS cid, b.doc_id AS bid,
               round(len(list_intersect(c.sh, b.sh))::double / len(b.sh), 6) AS containment
        FROM c, b
        WHERE len(list_intersect(c.sh, b.sh))::double / len(b.sh) >= 0.5
        ORDER BY cid, bid""",

    // The bloom prefilter cannot change results (no false negatives; false
    // positives die in the exact join), so the oracle is p26's exact
    // containment join at the lower threshold.
    "p49_bloom_decontamination" ->
      s"""WITH t AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-5+2),
                   i -> array_to_string(list_slice(toks, i, i+4), ' '))) AS sh
          FROM (SELECT doc_id, string_split($oNorm, ' ') AS toks FROM documents)
          WHERE len(toks) >= 5),
        c AS (SELECT * FROM t WHERE doc_id % 10 <> 9),
        b AS (SELECT * FROM t WHERE doc_id % 10 = 9)
        SELECT c.doc_id AS cid, b.doc_id AS bid,
               round(len(list_intersect(c.sh, b.sh))::double / len(b.sh), 6) AS containment
        FROM c, b
        WHERE len(list_intersect(c.sh, b.sh))::double / len(b.sh) >= 0.3
        ORDER BY cid, bid""",

    "p50_deterministic_shuffle" ->
      """SELECT doc_id,
           cast(row_number() OVER (
             ORDER BY ((doc_id % 4294967296 + 12345) * 1103515245) % 4294967296,
                      doc_id) - 1 AS bigint) AS shuffle_pos
         FROM documents ORDER BY doc_id""",

    "p51_cdc_chunks" ->
      s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
        tok AS (SELECT doc_id, j - 1 AS pos, list_extract(toks, j) AS tok
                FROM t, unnest(range(1, len(toks) + 1)) AS u(j)),
        b AS (SELECT doc_id, pos, tok,
                CASE WHEN tok <> '' AND
                  list_sum(list_transform(string_split(tok, ''), c -> ascii(c))) % 16 = 0
                THEN 1 ELSE 0 END AS bd
              FROM tok),
        g AS (SELECT doc_id, pos, tok,
                coalesce(sum(bd) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
              FROM b),
        ch AS (SELECT doc_id, chunk_id,
                 md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
               FROM g GROUP BY doc_id, chunk_id),
        d AS (SELECT fp FROM ch GROUP BY fp HAVING min(doc_id) < max(doc_id))
        SELECT ch.doc_id AS id, count(*) AS n_chunks,
               count(d.fp) AS n_dup_chunks,
               round(count(d.fp)::double / count(*), 6) AS dup_frac
        FROM ch LEFT JOIN d ON ch.fp = d.fp
        GROUP BY ch.doc_id ORDER BY id""",

    "p52_token_temperature" ->
      """WITH c AS (SELECT source, sum(n_chars)::double AS w
                    FROM documents GROUP BY source),
         s AS (SELECT sum(sqrt(w)) AS denom FROM c),
         f AS (SELECT source,
                 round(least(1.0, 20000 * (sqrt(w) / denom) / w) * 1000000)
                   / 1000000 AS keep
               FROM c, s)
         SELECT d.doc_id, d.source
         FROM documents d JOIN f ON d.source = f.source
         WHERE ((d.doc_id % 4294967296) * 1103515245) % 4294967296 <
               cast(trunc(f.keep * 4294967296.0) AS bigint)
         ORDER BY d.doc_id""",

    "p53_skew_report" ->
      """WITH c AS (SELECT cast(l_partkey AS varchar) AS key, count(*) AS n
                    FROM lineitem GROUP BY 1),
         t AS (SELECT sum(n)::double AS total, count(*)::double AS nd FROM c)
         SELECT key, n, round(n / t.total, 6) AS share,
                round(n / (t.total / t.nd), 6) AS skew_factor
         FROM c, t ORDER BY n DESC, key LIMIT 10""",

    "p54_sign_projection" ->
      """SELECT e.vec_id, j.d AS dim,
           round(list_sum(list_transform(range(1, len(e.embedding) + 1),
             i -> e.embedding[i]::double *
               (CASE WHEN (((i - 1) * 16 + j.d + 42) * 1103515245) % 4294967296
                          < 2147483648 THEN 1.0 ELSE -1.0 END))), 6) AS v
         FROM embeddings e, unnest(range(0, 16)) AS j(d)
         ORDER BY vec_id, dim""",

    "p55_corpus_diff" ->
      s"""WITH o AS (SELECT doc_id, md5($oNorm) AS fp
                     FROM documents WHERE doc_id % 7 <> 0),
         n AS (SELECT doc_id,
                 md5(trim(lower(regexp_replace(
                   CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END,
                   '\\s+', ' ', 'g')))) AS fp
               FROM documents WHERE doc_id % 5 <> 0)
         SELECT coalesce(o.doc_id, n.doc_id) AS id,
                CASE WHEN o.doc_id IS NULL THEN 'added'
                     WHEN n.doc_id IS NULL THEN 'removed'
                     WHEN o.fp <> n.fp THEN 'changed'
                     ELSE 'unchanged' END AS status
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
         ORDER BY id""",

    "p56_source_percentile" ->
      """WITH p AS (SELECT doc_id, source, n_chars,
             round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars),
                   6) AS pct
           FROM documents)
         SELECT doc_id, source, n_chars, pct,
                (pct < 0.05 OR pct > 0.99) AS is_outlier
         FROM p ORDER BY doc_id""",

    // The full curation chain re-derived stage by stage: each CTE is the
    // oracle form already proven for its operator (p46 filter conditions,
    // p02 exact dedup, p43 quota cap, p50 shuffle).
    "p57_curation_pipeline" ->
      s"""WITH t AS (SELECT doc_id, source, $oNorm AS norm, $oToks AS toks
                     FROM documents),
        f AS (SELECT doc_id, source, norm FROM t
              WHERE len(toks) >= 10
                AND (CASE WHEN ' '||norm||' ' LIKE '% the %' OR ' '||norm||' ' LIKE '% and %' THEN 'en'
                          WHEN ' '||norm||' ' LIKE '% le %' OR ' '||norm||' ' LIKE '% la %' THEN 'fr'
                          WHEN ' '||norm||' ' LIKE '% der %' OR ' '||norm||' ' LIKE '% und %' THEN 'de'
                          WHEN ' '||norm||' ' LIKE '% el %' OR ' '||norm||' ' LIKE '% los %' THEN 'es'
                          ELSE 'unknown' END) <> 'unknown'
                AND round(
                  least(len(toks)::double / 100.0, 1.0) * 0.4 +
                  least((CASE WHEN len(toks) > 0
                         THEN len(list_filter(toks, x -> x IN
                           ('the','a','an','and','or','of','to','in','is','it')))::double / len(toks)
                         ELSE 0.0 END) * 5.0, 1.0) * 0.3 +
                  (CASE WHEN (CASE WHEN len(toks) > 0
                              THEN length(regexp_replace(norm, ' ', '', 'g'))::double / len(toks)
                              ELSE 0.0 END) BETWEEN 3.0 AND 10.0
                        THEN 1.0 ELSE 0.5 END) * 0.3, 6) >= 0.5),
        dd AS (SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       row_number() OVER (PARTITION BY md5(norm)
                                          ORDER BY doc_id) AS rn
                FROM f) WHERE rn = 1),
        cap AS (SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       row_number() OVER (PARTITION BY source
                         ORDER BY ((doc_id % 4294967296) * 1103515245) % 4294967296,
                                  doc_id) AS rk
                FROM dd) WHERE rk <= 50)
        SELECT doc_id, source,
               cast(row_number() OVER (
                 ORDER BY ((doc_id % 4294967296 + 99) * 1103515245) % 4294967296,
                          doc_id) - 1 AS bigint) AS shuffle_pos
        FROM cap ORDER BY doc_id""",

    "p19_deterministic_sample" ->
      """SELECT doc_id, source FROM documents
         WHERE ((doc_id % 4294967296) * 1103515245) % 4294967296 < 1073741824
         ORDER BY doc_id""",

    "p20_source_mixing" ->
      """SELECT doc_id, source FROM documents
         WHERE ((doc_id % 4294967296) * 1103515245) % 4294967296 <
           CASE source
             WHEN 'src0' THEN 4294967296
             WHEN 'src1' THEN 3221225472
             WHEN 'src2' THEN 2147483648
             WHEN 'src3' THEN 1073741824
             WHEN 'src4' THEN 429496729
             WHEN 'src5' THEN 214748364
             ELSE -1 END
         ORDER BY doc_id""",

    "p21_shard_packing" ->
      """WITH t AS (
           SELECT doc_id, n_chars,
                  coalesce(sum(n_chars) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
           FROM documents)
         SELECT cast(floor(excl / 10000) AS integer) AS shard,
                count(*) AS n_docs, cast(sum(n_chars) AS bigint) AS total_chars
         FROM t GROUP BY shard ORDER BY shard""",

    "p29_embedding_quantize" ->
      """WITH t AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
                  FROM embeddings),
        b AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi FROM t),
        p AS (SELECT vec_id, v, lo,
                     CASE WHEN hi > lo THEN (hi - lo) / 255.0 ELSE 1.0 END AS sc
              FROM b),
        z AS (SELECT vec_id, v, lo, sc,
                     list_transform(v, x -> cast(round((x - lo) / sc) AS integer) - 128) AS qv
              FROM p)
        SELECT vec_id,
               cast(list_min(qv) AS integer) AS qmin,
               cast(list_max(qv) AS integer) AS qmax,
               cast(list_sum(qv) AS bigint) AS qsum,
               round(list_max(list_transform(list_zip(v, qv),
                 e -> abs(e[1] - ((e[2] + 128) * sc + lo)))), 6) AS max_abs_err
        FROM z ORDER BY vec_id""",

    // Differential kNN-graph oracle: recompute nBits from the corpus count
    // (integer bit-width — `length(printf('%b', q-1))` is DuckDB's
    // ceil(log2 q), exactly Similarity.deriveNBits), then the axis-sign
    // buckets (16-bit unroll masked to nBits), the size cap, the nBits+1
    // probe buckets per vector, the exact candidate self-join, and the
    // per-vector top-5 — byte-identical to Spark's approximate graph at
    // ANY scale factor.
    "p30_knn_graph" ->
      """WITH params AS (
          SELECT CASE WHEN q <= 1 THEN 1
                      ELSE least(16, length(printf('%b', q - 1))) END AS nb
          FROM (SELECT (count(*) + 31) // 32 AS q FROM embeddings)),
        fb AS (
          SELECT vec_id, embedding,
                 (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
                + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END
                + CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END
                + CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END
                + CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END
                + CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END
                + CASE WHEN embedding[9] > 0 THEN 256 ELSE 0 END
                + CASE WHEN embedding[10] > 0 THEN 512 ELSE 0 END
                + CASE WHEN embedding[11] > 0 THEN 1024 ELSE 0 END
                + CASE WHEN embedding[12] > 0 THEN 2048 ELSE 0 END
                + CASE WHEN embedding[13] > 0 THEN 4096 ELSE 0 END
                + CASE WHEN embedding[14] > 0 THEN 8192 ELSE 0 END
                + CASE WHEN embedding[15] > 0 THEN 16384 ELSE 0 END
                + CASE WHEN embedding[16] > 0 THEN 32768 ELSE 0 END) AS full_bucket
          FROM embeddings),
        c AS (SELECT vec_id, embedding,
                     full_bucket & ((1 << nb) - 1) AS bucket
              FROM fb, params),
        sizes AS (SELECT bucket, count(*) AS bsz FROM c GROUP BY bucket),
        ok AS (SELECT bucket FROM sizes WHERE bsz <= 4096),
        masks AS (SELECT unnest(list_prepend(0,
                    list_transform(range(nb), b -> 1 << b))) AS m FROM params),
        probes AS (SELECT vec_id AS id_a, embedding AS va, xor(bucket, m) AS bucket
                   FROM c, masks),
        s AS (
          SELECT p.id_a, c.vec_id AS id_b,
                 round(
                   list_sum(list_transform(list_zip(c.embedding, p.va),
                     x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
                   (sqrt(list_sum(list_transform(c.embedding, y -> y::DOUBLE * y::DOUBLE))) *
                    sqrt(list_sum(list_transform(p.va, y -> y::DOUBLE * y::DOUBLE)))), 4) AS cos
          FROM c JOIN probes p USING (bucket) JOIN ok USING (bucket)
          WHERE c.vec_id <> p.id_a),
        r AS (SELECT id_a, id_b, cos,
                     row_number() OVER (PARTITION BY id_a
                                        ORDER BY cos DESC, id_b) AS rk
              FROM s)
        SELECT id_a AS vec_id, id_b AS nbr_id, cos, cast(rk AS integer) AS rk
        FROM r WHERE rk <= 5 ORDER BY vec_id, rk""",

    "p31_unicode_normalize" ->
      """WITH e AS (SELECT doc_id,
             text || ' cafe' || chr(769) || ' nai' || chr(776) || 've' AS t
           FROM documents)
        SELECT doc_id, nfc_normalize(t) AS normalized,
               cast(length(t) AS integer) AS n_before,
               cast(length(nfc_normalize(t)) AS integer) AS n_after
        FROM e ORDER BY doc_id""",

    // Recompute the axis-sign buckets, probes, cosines, and then the
    // connected components (recursive reachability) — the full semantic
    // dedup path, including the iterative distributed CC, verified exactly.
    "p32_semantic_clusters" ->
      """WITH RECURSIVE params AS (
          SELECT CASE WHEN q <= 1 THEN 1
                      ELSE least(16, length(printf('%b', q - 1))) END AS nb
          FROM (SELECT (count(*) + 31) // 32 AS q FROM embeddings)),
        fb AS (
          SELECT vec_id, embedding,
                 (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
                + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END
                + CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END
                + CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END
                + CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END
                + CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END
                + CASE WHEN embedding[9] > 0 THEN 256 ELSE 0 END
                + CASE WHEN embedding[10] > 0 THEN 512 ELSE 0 END
                + CASE WHEN embedding[11] > 0 THEN 1024 ELSE 0 END
                + CASE WHEN embedding[12] > 0 THEN 2048 ELSE 0 END
                + CASE WHEN embedding[13] > 0 THEN 4096 ELSE 0 END
                + CASE WHEN embedding[14] > 0 THEN 8192 ELSE 0 END
                + CASE WHEN embedding[15] > 0 THEN 16384 ELSE 0 END
                + CASE WHEN embedding[16] > 0 THEN 32768 ELSE 0 END) AS full_bucket
          FROM embeddings),
        c AS (SELECT vec_id, embedding,
                     full_bucket & ((1 << nb) - 1) AS bucket
              FROM fb, params),
        sizes AS (SELECT bucket, count(*) AS bsz FROM c GROUP BY bucket),
        ok AS (SELECT bucket FROM sizes WHERE bsz <= 4096),
        masks AS (SELECT unnest(list_prepend(0,
                    list_transform(range(nb), b -> 1 << b))) AS m FROM params),
        probes AS (SELECT vec_id AS id_a, embedding AS va, xor(bucket, m) AS bucket
                   FROM c, masks),
        p AS (
          SELECT pr.id_a, c.vec_id AS id_b
          FROM c JOIN probes pr USING (bucket) JOIN ok USING (bucket)
          WHERE pr.id_a < c.vec_id
            AND round(
                  list_sum(list_transform(list_zip(c.embedding, pr.va),
                    x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
                  (sqrt(list_sum(list_transform(c.embedding, y -> y::DOUBLE * y::DOUBLE))) *
                   sqrt(list_sum(list_transform(pr.va, y -> y::DOUBLE * y::DOUBLE)))), 4)
                >= 0.5),
        e AS (SELECT id_a AS s, id_b AS d FROM p
              UNION ALL SELECT id_b, id_a FROM p),
        rec AS (
          SELECT vec_id AS id, vec_id AS reach FROM embeddings
          UNION
          SELECT e.s, rec.reach FROM e JOIN rec ON e.d = rec.id)
        SELECT id AS vec_id, min(reach) AS cluster_id
        FROM rec GROUP BY id ORDER BY vec_id""",

    "p33_stratified_split" ->
      """SELECT source,
              CASE WHEN h < 3865470566 THEN 'train'
                   WHEN h < 4080218931 THEN 'val'
                   ELSE 'test' END AS split,
              count(*) AS n
         FROM (SELECT source,
                      ((doc_id % 4294967296) * 1103515245) % 4294967296 AS h
               FROM documents)
         GROUP BY source, split ORDER BY source, split""",

    "p13_embedding_near_pairs" ->
      """WITH c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        s AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(
                   list_sum(list_transform(list_zip(a.embedding, b.embedding),
                     x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
                   (sqrt(list_sum(list_transform(a.embedding, y -> y::DOUBLE * y::DOUBLE))) *
                    sqrt(list_sum(list_transform(b.embedding, y -> y::DOUBLE * y::DOUBLE)))), 4) AS cos
          FROM c a JOIN c b ON a.vec_id < b.vec_id)
        SELECT id_a, id_b, cos FROM s WHERE cos >= 0.3 ORDER BY id_a, id_b""",

    // Chunking mirrors p22 (overlap=0, window=20); first occurrence by
    // (doc_id, chunk_id) survives, rest are dups.
    "p34_passage_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split($oNorm, ' ') AS toks FROM documents),
        c AS (SELECT doc_id, i AS chunk_id,
                array_to_string(list_slice(toks, i*20 + 1, i*20 + 20), ' ') AS chunk
              FROM t, unnest(range(0, greatest(
                cast(ceil(len(toks) / 20.0) AS bigint), 1))) AS u(i)),
        r AS (SELECT doc_id, chunk_id,
                row_number() OVER (PARTITION BY md5(chunk)
                                   ORDER BY doc_id, chunk_id) AS rn
              FROM c)
        SELECT doc_id, count(*) AS n_chunks,
               cast(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS bigint) AS n_dup_chunks,
               round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::double / count(*), 6) AS dup_share
        FROM r GROUP BY doc_id ORDER BY doc_id""",

    "p35_column_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
            cast(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_null,
            count(DISTINCT $c) AS n_distinct,
            min(cast($c AS varchar)) AS min_value,
            max(cast($c AS varchar)) AS max_value
          FROM documents"""
      Seq("doc_id", "lang", "source", "n_chars").map(one)
        .mkString("", " UNION ALL ", " ORDER BY col_name")
    },

    "p36_tfidf_topterms" ->
      s"""WITH t AS (SELECT doc_id, unnest($oToks) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n FROM documents),
        s AS (SELECT tf.doc_id, tf.term, tf.tf,
                round(tf.tf * (ln((n.n + 1.0) / (dfreq.df_t + 1.0)) + 1.0), 6) AS tfidf
              FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, term) AS rk FROM s)
        SELECT doc_id, term, tf, tfidf, cast(rk AS integer) AS rk
        FROM r WHERE rk <= 5 ORDER BY doc_id, rk""",

    // Planted-PNG rule recomputed codec-free: w = 8 + id%9, h = 8 + id%7,
    // pixel(i) = (id*7 + i*13) mod 256 row-major (Multimodal.plantPngs).
    "p58_image_decode" ->
      """SELECT doc_id AS media_id,
              cast(8 + (doc_id % 9) AS integer) AS width,
              cast(8 + (doc_id % 7) AS integer) AS height,
              cast(1 AS integer) AS n_channels,
              cast(list_sum(list_transform(
                     range(0, (8 + (doc_id % 9)) * (8 + (doc_id % 7))),
                     i -> (doc_id * 7 + i * 13) % 256)) AS bigint) AS pixel_sum,
              true AS decoded
        FROM documents ORDER BY media_id""",

    // 2x2 box-filter pool of the planted rule: output pixel (bx,by) =
    // floor(mean of the 4 source pixels), trailing odd row/col dropped —
    // exactly Multimodal.resizePooled's integer arithmetic.
    "p59_image_resize" ->
      """WITH p AS (SELECT doc_id, 8 + (doc_id % 9) AS w, 8 + (doc_id % 7) AS h
                  FROM documents)
        SELECT doc_id AS media_id,
              cast(w // 2 AS integer) AS width,
              cast(h // 2 AS integer) AS height,
              cast(list_sum(list_transform(range(0, (w // 2) * (h // 2)),
                     j -> list_sum(list_transform(range(0, 4),
                            d -> (doc_id * 7 +
                                  (((j // (w // 2)) * 2 + d // 2) * w +
                                   (j % (w // 2)) * 2 + (d % 2)) * 13) % 256))
                          // 4)) AS bigint) AS pixel_sum,
              true AS decoded
        FROM p ORDER BY media_id""",

    // Planted-WAV rule recomputed codec-free: rate = 8000 + (id%5)*1000,
    // n = 64 + id%32 frames, sample(i) = (id*13 + i*29) mod 256
    // (Multimodal.plantWavs; 8-bit unsigned mono PCM, so amp_sum is the
    // plain sum of the sample values).
    "p60_audio_decode" ->
      """SELECT doc_id AS media_id,
              cast(8000 + (doc_id % 5) * 1000 AS integer) AS sample_rate,
              cast(1 AS integer) AS channels,
              cast(64 + (doc_id % 32) AS bigint) AS n_frames,
              cast(list_sum(list_transform(range(0, 64 + (doc_id % 32)),
                     i -> (doc_id * 13 + i * 29) % 256)) AS bigint) AS amp_sum,
              true AS decoded
        FROM documents ORDER BY media_id""",

    // Mixed-modality funnel: every per-modality feature recomputed
    // closed-form (image/audio planted rules as p58/p60; text = UTF-8
    // byte length), then the same gate + fingerprint-dedup aggregation.
    "p61_multimodal_funnel" ->
      """WITH f AS (
          SELECT doc_id AS media_id, 'image' AS modality,
                 cast(list_sum(list_transform(
                        range(0, (8 + (doc_id % 9)) * (8 + (doc_id % 7))),
                        i -> (doc_id * 7 + i * 13) % 256)) AS bigint) AS feature
          FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id, 'audio',
                 cast(list_sum(list_transform(range(0, 64 + (doc_id % 32)),
                        i -> (doc_id * 13 + i * 29) % 256)) AS bigint)
          FROM documents WHERE doc_id % 3 = 1
          UNION ALL
          SELECT doc_id, 'text', cast(octet_length(encode(text)) AS bigint)
          FROM documents WHERE doc_id % 3 = 2),
        g AS (SELECT modality, feature, feature % 10 < 8 AS passed,
                     feature % 97 AS fingerprint FROM f)
        SELECT modality, count(*) AS n_in,
               cast(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS bigint) AS n_pass,
               cast(count(DISTINCT CASE WHEN passed THEN fingerprint END) AS bigint) AS n_unique
        FROM g GROUP BY modality ORDER BY modality""",

    // Every-2nd-frame sample of the planted multi-frame GIF rule:
    // n_frames = 3 + id%4, w = 8 + id%5, h = 10 + id%3,
    // pixel(f, i) = (id*11 + f*17 + i*13) % 256.
    "p62_video_frames" ->
      """SELECT d.doc_id AS media_id,
              cast(u.f AS integer) AS frame_idx,
              cast(3 + (d.doc_id % 4) AS integer) AS n_frames,
              cast(8 + (d.doc_id % 5) AS integer) AS width,
              cast(10 + (d.doc_id % 3) AS integer) AS height,
              cast(list_sum(list_transform(
                     range(0, (8 + (d.doc_id % 5)) * (10 + (d.doc_id % 3))),
                     i -> (d.doc_id * 11 + u.f * 17 + i * 13) % 256)) AS bigint)
                AS pixel_sum,
              true AS decoded
        FROM documents d, unnest(range(0, 3 + (d.doc_id % 4), 2)) AS u(f)
        ORDER BY media_id, frame_idx""",

    // 2x2 pool of the planted frame rule, every frame: pooled pixel
    // (bx,by) of frame f = floor(mean of the 4 source pixels), trailing
    // odd row/col dropped — exactly resizeVideoPooled's arithmetic
    // (mirrors p59's image oracle with the frame term added).
    "p63_video_resize" ->
      """WITH p AS (SELECT doc_id, 3 + (doc_id % 4) AS n,
                         8 + (doc_id % 5) AS w, 10 + (doc_id % 3) AS h
                  FROM documents)
        SELECT doc_id AS media_id,
              cast(u.f AS integer) AS frame_idx,
              cast(n AS integer) AS n_frames,
              cast(w // 2 AS integer) AS width,
              cast(h // 2 AS integer) AS height,
              cast(list_sum(list_transform(range(0, (w // 2) * (h // 2)),
                     j -> list_sum(list_transform(range(0, 4),
                            d -> (doc_id * 11 + u.f * 17 +
                                  (((j // (w // 2)) * 2 + d // 2) * w +
                                   (j % (w // 2)) * 2 + (d % 2)) * 13) % 256))
                          // 4)) AS bigint) AS pixel_sum,
              true AS decoded
        FROM p, unnest(range(0, n)) AS u(f)
        ORDER BY media_id, frame_idx""",

    // Per consecutive frame pair: sum of |pixel(f,i) - pixel(f-1,i)| over
    // the planted rule.
    "p64_video_motion" ->
      """WITH p AS (SELECT doc_id, 3 + (doc_id % 4) AS n,
                         8 + (doc_id % 5) AS w, 10 + (doc_id % 3) AS h
                  FROM documents)
        SELECT doc_id AS media_id,
              cast(u.f AS integer) AS frame_idx,
              cast(n AS integer) AS n_frames,
              cast(list_sum(list_transform(range(0, w * h),
                     i -> abs((doc_id * 11 + u.f * 17 + i * 13) % 256 -
                              (doc_id * 11 + (u.f - 1) * 17 + i * 13) % 256)))
                AS bigint) AS motion_sum,
              true AS decoded
        FROM p, unnest(range(1, n)) AS u(f)
        ORDER BY media_id, frame_idx""",

    // 2x decimation of the planted sample rule s(i) = (id*13 + i*29)%256:
    // output sample j = (s(2j) + s(2j+1)) // 2, rate halves, trailing odd
    // sample dropped.
    "p65_audio_resample" ->
      """WITH p AS (SELECT doc_id, 8000 + (doc_id % 5) * 1000 AS rate,
                         64 + (doc_id % 32) AS n
                  FROM documents)
        SELECT doc_id AS media_id,
              cast(rate // 2 AS integer) AS sample_rate,
              cast(1 AS integer) AS channels,
              cast(n // 2 AS bigint) AS n_frames,
              cast(list_sum(list_transform(range(0, n // 2),
                     j -> ((doc_id * 13 + (2 * j) * 29) % 256 +
                           (doc_id * 13 + (2 * j + 1) * 29) % 256) // 2))
                AS bigint) AS amp_sum,
              true AS decoded
        FROM p ORDER BY media_id""",

    // Planted 16-bit rule recomputed codec-free: rate = 11000+(id%4)*1000,
    // chs = 1+((id//2)%2), n = 48+id%16 frames,
    // s(i,c) = ((id*31 + i*57 + c*101) % 4001) - 2000 (signed). amp_sum
    // sums the PCM bytes: low16(v) = (v+65536)%65536 (v in [-2000,2000]),
    // byte_sum = low16%256 + low16//256 — exactly Java's (v & 0xFF) +
    // ((v >> 8) & 0xFF) for 16-bit two's complement. The flat index k
    // ranges over n*chs interleaved samples: i = k//chs, c = k%chs.
    "p66_audio16_decode" ->
      """WITH p AS (SELECT doc_id, 11000 + (doc_id % 4) * 1000 AS rate,
                         1 + ((doc_id // 2) % 2) AS chs,
                         48 + (doc_id % 16) AS n
                  FROM documents)
        SELECT doc_id AS media_id,
              cast(rate AS integer) AS sample_rate,
              cast(chs AS integer) AS channels,
              cast(n AS bigint) AS n_frames,
              cast(list_sum(list_transform(
                     list_transform(range(0, n * chs),
                       k -> ((doc_id * 31 + (k // chs) * 57 + (k % chs) * 101)
                             % 4001 - 2000 + 65536) % 65536),
                     v -> v % 256 + v // 256)) AS bigint) AS amp_sum,
              true AS decoded
        FROM p ORDER BY media_id""",

    // 2x per-channel decimation of the planted 16-bit rule: output frame
    // j, channel c = (s(2j,c) + s(2j+1,c)) // 2 (DuckDB // truncates
    // toward zero, matching Java int division on the possibly-negative
    // sum), rate halves, trailing odd frame dropped; byte decomposition
    // as p66.
    "p67_audio16_resample" ->
      """WITH p AS (SELECT doc_id, 11000 + (doc_id % 4) * 1000 AS rate,
                         1 + ((doc_id // 2) % 2) AS chs,
                         48 + (doc_id % 16) AS n
                  FROM documents)
        SELECT doc_id AS media_id,
              cast(rate // 2 AS integer) AS sample_rate,
              cast(chs AS integer) AS channels,
              cast(n // 2 AS bigint) AS n_frames,
              cast(list_sum(list_transform(
                     list_transform(range(0, (n // 2) * chs),
                       k -> ((((doc_id * 31 + (2 * (k // chs)) * 57
                                + (k % chs) * 101) % 4001 - 2000)
                              + ((doc_id * 31 + (2 * (k // chs) + 1) * 57
                                 + (k % chs) * 101) % 4001 - 2000)) // 2
                             + 65536) % 65536),
                     v -> v % 256 + v // 256)) AS bigint) AS amp_sum,
              true AS decoded
        FROM p ORDER BY media_id""",

    // Planted MP4 rule recomputed closed-form: timescale = 500+(id%4)*250,
    // duration = 10000 + id%90000 timescale units, duration_ms =
    // duration*1000 // timescale (truncating, all positive), n_tracks =
    // 1+id%3, codec(t) = avc1 for even id+t else mp4a, joined in track
    // order.
    "p68_mp4_meta" ->
      """WITH p AS (SELECT doc_id, 500 + (doc_id % 4) * 250 AS ts,
                         10000 + (doc_id % 90000) AS dur,
                         1 + (doc_id % 3) AS nt
                  FROM documents)
        SELECT doc_id AS media_id,
              cast(dur * 1000 // ts AS bigint) AS duration_ms,
              cast(ts AS integer) AS timescale,
              cast(nt AS integer) AS n_tracks,
              array_to_string(list_transform(range(0, nt),
                t -> CASE WHEN (doc_id + t) % 2 = 0
                          THEN 'avc1' ELSE 'mp4a' END), ',') AS codecs,
              true AS parsed
        FROM p ORDER BY media_id""",

    // Both router branches closed-form: GIF metric = total planted pixel
    // sum over all frames (flat index k: f = k // (w*h), i = k % (w*h));
    // MP4 metric = duration_ms from the planted mvhd rule, kept iff
    // >= 60 s AND some track fourcc is avc1 ((doc_id+t) even).
    "p69_container_router" ->
      """WITH g AS (SELECT doc_id, 3 + (doc_id % 4) AS n, 8 + (doc_id % 5) AS w,
                         10 + (doc_id % 3) AS h
                  FROM documents WHERE doc_id % 2 = 0),
        gm AS (SELECT doc_id AS media_id, 'gif' AS container,
                     cast(list_sum(list_transform(range(0, n * w * h),
                       k -> (doc_id * 11 + (k // (w * h)) * 17 +
                             (k % (w * h)) * 13) % 256)) AS bigint) AS metric,
                     true AS kept
              FROM g),
        m AS (SELECT doc_id,
                     (10000 + (doc_id % 90000)) * 1000
                       // (500 + (doc_id % 4) * 250) AS dur_ms,
                     1 + (doc_id % 3) AS nt
              FROM documents WHERE doc_id % 2 = 1),
        mm AS (SELECT doc_id AS media_id, 'mp4' AS container,
                     cast(dur_ms AS bigint) AS metric,
                     dur_ms >= 60000 AND len(list_filter(range(0, nt),
                       t -> (doc_id + t) % 2 = 0)) > 0 AS kept
              FROM m),
        u AS (SELECT * FROM gm UNION ALL SELECT * FROM mm)
        SELECT container, count(*) AS n,
              cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS bigint) AS n_kept,
              cast(sum(CASE WHEN kept THEN metric ELSE 0 END) AS bigint)
                AS kept_metric_sum
        FROM u GROUP BY container ORDER BY container""",

    // Full differential: DuckDB rebuilds the planted page closed-form and
    // strips it with RE2; Spark strips its copy with Java regex. Any
    // disagreement in script/style removal, tag stripping, entity decode
    // order, or whitespace collapse breaks this row.
    "p70_html_extract" ->
      s"""$oHtmlCtes,
        x AS (SELECT id, html, ${oHtmlStrip("html")} AS txt FROM h),
        y AS (SELECT id, html, txt, ${oAnchorChars("html")} AS ac FROM x)
        SELECT id, txt AS text,
              cast(length(txt) AS integer) AS text_chars,
              cast(len(regexp_extract_all(html, '<[a-zA-Z/!][^>]*>')) AS integer)
                AS n_tags,
              cast(len(regexp_extract_all(html, '<a(?:\\s[^>]*)?>')) AS integer)
                AS n_links,
              ac AS anchor_chars,
              ac * 1000000 // greatest(length(txt), 1) AS ld_micro
        FROM y ORDER BY id""",

    // Block-level twin: same block regex (spelled without backreferences —
    // RE2 has none), same per-block strip, same keep rule (link density
    // < 0.5 AND >= 3 words), same document-order concatenation.
    "p71_boilerplate_blocks" ->
      s"""$oHtmlCtes,
        $oBlockCtes
        SELECT id, cast(n_blocks AS integer) AS n_blocks,
              cast(len(kept) AS integer) AS n_kept,
              coalesce(array_to_string(list_transform(kept, rr -> rr.t), ' '),
                '') AS main_text,
              cast(length(coalesce(array_to_string(
                list_transform(kept, rr -> rr.t), ' '), ''))
                AS integer) AS main_chars
        FROM k ORDER BY id""",

    // URL twin: DuckDB rebuilds the same messy URL closed-form and
    // canonicalizes with its own regex/list engine (list_sort vs
    // array_sort, starts_with vs startswith) — full parse+normalize
    // differential, then the same shared-canonical-count window.
    "p72_url_canonicalize" ->
      s"""WITH $oUrlCtes
        SELECT id, url, canon_url, host, n_params_kept,
              count(*) OVER (PARTITION BY canon_url) AS n_dups
        FROM f ORDER BY id""",

    // Full web-funnel twin: canonical-URL keep-first, block-extraction
    // quality gate, content-fingerprint keep-first (md5 over main_text
    // with the id-bearing h1 prefix removed), per-host stage counts.
    // Shared verbatim by p77: the WARC-fed funnel must reproduce the
    // HTML-column funnel exactly (the parse layer is transparent).
    "p73_web_curation" -> oWebFunnelSql,

    // WARC parse twin: record counts/types/URIs/byte-lengths/payload md5s
    // all recomputed closed-form from the SAME planted page + URL rules —
    // the parser's output must equal what was framed, byte for byte
    // (octet_length = UTF-8 bytes = the framed Content-Length).
    "p76_warc_records" ->
      s"""$oHtmlCtes,
        $oUrlCtes
        SELECT * FROM (
          SELECT h.id AS id, 0 AS rec_idx, 'warcinfo' AS warc_type,
                cast(NULL AS varchar) AS target_uri,
                cast(octet_length(encode('software graft-crawler ' || h.id))
                  AS bigint) AS content_length,
                md5('software graft-crawler ' || h.id) AS payload_md5,
                true AS ok
          FROM h
          UNION ALL
          SELECT f.id, 1, 'request', f.url,
                cast(octet_length(encode('GET ' || f.url)) AS bigint),
                md5('GET ' || f.url), true
          FROM f WHERE f.id % 3 = 0
          UNION ALL
          SELECT h.id, CASE WHEN h.id % 3 = 0 THEN 2 ELSE 1 END, 'response',
                f.url, cast(octet_length(encode(h.html)) AS bigint),
                md5(h.html), true
          FROM h JOIN f ON h.id = f.id)
        ORDER BY id, rec_idx""",

    // WARC-fed funnel twin: VERBATIM the p73 oracle — the parse layer must
    // be transparent, so the funnel recomputed from WARC bytes equals the
    // funnel computed from the HTML column.
    "p77_warc_funnel" -> oWebFunnelSql,

    // dHash twin: the full grid->bits->band-words computation redone in SQL
    // from the planted pixel rule. Any disagreement in PNG round-trip,
    // pooling boundaries, mean flooring, or bit packing breaks this row.
    "p74_image_dhash" ->
      s"""WITH allids AS (SELECT doc_id AS id, doc_id AS src FROM documents),
        ${oDhashCtes()}
        SELECT ids.id, cast(ids.w AS integer) AS width,
              cast(ids.h AS integer) AS height,
              words.b0, words.b1, words.b2, words.b3
        FROM ids JOIN words ON ids.id = words.id
        ORDER BY ids.id""",

    // Near-dup twin computes the ALL-PAIRS answer (id_a < id_b, XOR
    // popcount over the 4 band words <= 3) — the banded Spark plan must
    // equal it exactly (pigeonhole recall + exact verify).
    "p75_image_neardup_pairs" ->
      s"""WITH allids AS (
          SELECT doc_id AS id, doc_id AS src FROM documents
          UNION ALL
          SELECT doc_id + $CopyIdOffset AS id, doc_id AS src FROM documents
          WHERE doc_id % 5 = 0),
        ${oDhashCtes(oPixelFp)}
        SELECT a.id AS id_a, b.id AS id_b,
              cast(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
                 + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
                AS integer) AS hamming
        FROM words a JOIN words b ON a.id < b.id
        WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
        ORDER BY id_a, id_b""",

    // BPE twin: the same greedy longest-first scan as a recursive walk.
    // The positional checksum makes this sequence-exact — a piece emitted
    // out of order (or a wrong merge winning a tie) breaks the row even
    // when the piece BAG is right.
    "p78_bpe_encode" ->
      s"""$oBpeWalk
        SELECT id AS doc_id, cast(cnt AS integer) AS n_pieces,
              id_sum, checksum
        FROM walk WHERE cur = length(nt) + 1
        ORDER BY doc_id""",

    // Packing twin: per-doc subword counts from the same walk, then the
    // p21 window-cumsum shard rule over the BPE budget.
    "p79_bpe_packing" ->
      s"""$oBpeWalk,
        t AS (SELECT id AS doc_id, cnt AS n_bpe FROM walk
              WHERE cur = length(nt) + 1),
        c AS (SELECT doc_id, n_bpe,
                coalesce(sum(n_bpe) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
              FROM t)
        SELECT cast(floor(excl / 5000) AS integer) AS shard,
              count(*) AS n_docs, cast(sum(n_bpe) AS bigint) AS total_bpe
        FROM c GROUP BY shard ORDER BY shard""",

    // Host-quota twin: canonical keep-first, then the p43 bucket-hash cap
    // order per host.
    "p80_host_quota" ->
      s"""WITH $oUrlCtes,
        surv AS (SELECT id, host, canon_url,
            row_number() OVER (PARTITION BY canon_url ORDER BY id) AS rk1
          FROM f),
        capped AS (SELECT id, host, canon_url,
            row_number() OVER (PARTITION BY host
              ORDER BY ((id % 4294967296) * 1103515245) % 4294967296, id)
              AS rk
          FROM surv WHERE rk1 = 1)
        SELECT id, host, canon_url, cast(rk AS integer) AS rk
        FROM capped WHERE rk <= 25 ORDER BY id""",

    // Image-dedup twin: closed-form dHash words -> all-pairs hamming<=3
    // edges -> recursive-CTE connected components (the p18 pattern) ->
    // min-label cluster + keep-lowest survivor flag.
    "p81_image_dedup_survivors" ->
      s"""WITH RECURSIVE allids AS (
          SELECT doc_id AS id, doc_id AS src FROM documents
          UNION ALL
          SELECT doc_id + $CopyIdOffset AS id, doc_id AS src FROM documents
          WHERE doc_id % 5 = 0),
        ${oDhashCtes(oPixelFp)},
        pr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM words a JOIN words b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        e AS (SELECT id_a AS s, id_b AS d FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
        rec AS (
          SELECT id, id AS reach FROM allids
          UNION
          SELECT e.s, rec.reach FROM e JOIN rec ON e.d = rec.id)
        SELECT id, min(reach) AS cluster_id,
              id = min(reach) AS is_survivor
        FROM rec GROUP BY id ORDER BY id""",

    // Audio-fingerprint twin: the full bins->delta-bits->band-words
    // computation redone in SQL from both planted sample rules (parity
    // picks the 8-bit vs 16-bit shape). Any disagreement in WAV round
    // trip, bin boundaries, mean flooring, amplitude definition, or bit
    // packing breaks this row.
    "p82_audio_fingerprint" ->
      s"""WITH aids AS (SELECT doc_id AS id, doc_id AS src FROM documents),
        ${oAfpCtes("src % 2 = 0")}
        SELECT ap.id, cast(ap.rate AS integer) AS sample_rate,
              cast(ap.chs AS integer) AS channels,
              cast(ap.n AS integer) AS n_frames,
              awords.b0, awords.b1, awords.b2, awords.b3
        FROM ap JOIN awords ON ap.id = awords.id
        ORDER BY ap.id""",

    // Near-dup twin computes the ALL-PAIRS answer (id_a < id_b, XOR
    // popcount over the 4 band words <= 3) — the banded Spark plan must
    // equal it exactly (pigeonhole recall + exact verify). Copies are
    // container round trips, so they share their base's src and words.
    "p83_audio_neardup_pairs" ->
      s"""WITH aids AS (
          SELECT doc_id AS id, doc_id AS src FROM documents
          UNION ALL
          SELECT doc_id + $CopyIdOffset AS id, doc_id AS src FROM documents
          WHERE doc_id % 5 = 0),
        $oAfpFpCtes
        SELECT a.id AS id_a, b.id AS id_b,
              cast(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
                 + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
                AS integer) AS hamming
        FROM fwords a JOIN fwords b ON a.id < b.id
        WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
        ORDER BY id_a, id_b""",

    // Audio-dedup twin: closed-form fingerprint words -> all-pairs
    // hamming<=3 edges -> recursive-CTE connected components (the p18 /
    // p81 pattern) -> min-label cluster + keep-lowest survivor flag.
    "p84_audio_dedup_survivors" ->
      s"""WITH RECURSIVE aids AS (
          SELECT doc_id AS id, doc_id AS src FROM documents
          UNION ALL
          SELECT doc_id + $CopyIdOffset AS id, doc_id AS src FROM documents
          WHERE doc_id % 5 = 0),
        $oAfpFpCtes,
        pr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM fwords a JOIN fwords b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        e AS (SELECT id_a AS s, id_b AS d FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
        rec AS (
          SELECT id, id AS reach FROM aids
          UNION
          SELECT e.s, rec.reach FROM e JOIN rec ON e.d = rec.id)
        SELECT id, min(reach) AS cluster_id,
              id = min(reach) AS is_survivor
        FROM rec GROUP BY id ORDER BY id""",

    // Multimodal-routing twin: html rows from the p71 extraction CTEs
    // (every id carries an html response), image rows from the dHash
    // word CTEs over the every-4th-id planted PNGs, audio rows from the
    // fingerprint word CTEs over the every-6th-id planted WAVs (all
    // 8-bit clips, so the shared audio CTEs run with pred8=true) — the
    // oracle composes three existing closed-form twins, owning neither
    // a WARC parser nor any codec.
    "p85_warc_multimodal" ->
      s"""$oHtmlCtes,
        $oBlockCtes,
        allids AS (SELECT doc_id AS id, doc_id AS src FROM documents
                   WHERE doc_id % 4 = 0),
        ${oDhashCtes()},
        aids AS (SELECT doc_id AS id, doc_id AS src FROM documents
                 WHERE doc_id % 6 = 0),
        ${oAfpCtes("true")}
        SELECT id, 'html' AS kind, cast(n_blocks AS integer) AS m1,
              cast(len(kept) AS integer) AS m2,
              cast(length(coalesce(array_to_string(
                list_transform(kept, rr -> rr.t), ' '), ''))
                AS integer) AS m3,
              cast(NULL AS integer) AS m4
        FROM k
        UNION ALL
        SELECT words.id, 'image' AS kind,
              words.b0 AS m1, words.b1 AS m2, words.b2 AS m3, words.b3 AS m4
        FROM words
        UNION ALL
        SELECT awords.id, 'audio' AS kind,
              awords.b0 AS m1, awords.b1 AS m2, awords.b2 AS m3,
              awords.b3 AS m4
        FROM awords
        ORDER BY id, kind""",

    // Curated-sink twin: VERBATIM the p80 host-quota SQL — read-back
    // equality through the deterministic parquet sink means the oracle
    // never sees the disk hop.
    "p86_curated_sink" ->
      s"""WITH $oUrlCtes,
        surv AS (SELECT id, host, canon_url,
            row_number() OVER (PARTITION BY canon_url ORDER BY id) AS rk1
          FROM f),
        capped AS (SELECT id, host, canon_url,
            row_number() OVER (PARTITION BY host
              ORDER BY ((id % 4294967296) * 1103515245) % 4294967296, id)
              AS rk
          FROM surv WHERE rk1 = 1)
        SELECT id, host, canon_url, cast(rk AS integer) AS rk
        FROM capped WHERE rk <= 25 ORDER BY id""",

    // Big-vocab BPE twin: the recursive walk with the arithmetic
    // membership ladder (see oBpeBigWalk) — a wrong broadcast entry, a
    // probe that skips the longest match, or an out-of-order emit all
    // break the positional checksum.
    "p87_bpe_big_vocab" ->
      s"""$oBpeBigWalk
        SELECT id AS doc_id, cast(cnt AS integer) AS n_pieces,
              id_sum, checksum
        FROM walk WHERE cur = length(nt) + 1
        ORDER BY doc_id""",

    // Incremental-refresh twin: the full corpus×batch ALL-PAIRS answer
    // (corpus = base ids, batch = offset ids; copies share their base's
    // src and words, fresh items are their own src) — the banded
    // batch-vs-corpus Spark plan must equal it exactly.
    "p88_image_incremental_neardup" ->
      s"""WITH allids AS (
          SELECT doc_id AS id, doc_id AS src FROM documents
          UNION ALL
          SELECT doc_id + $CopyIdOffset AS id, doc_id AS src FROM documents
          WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + $FreshIdOffset AS id, doc_id + $FreshIdOffset AS src
          FROM documents WHERE doc_id % 7 = 3),
        ${oDhashCtes(oPixelFp)}
        SELECT c.id AS corpus_id, b.id AS batch_id,
              cast(bit_count(xor(c.b0, b.b0)) + bit_count(xor(c.b1, b.b1))
                 + bit_count(xor(c.b2, b.b2)) + bit_count(xor(c.b3, b.b3))
                AS integer) AS hamming
        FROM words c JOIN words b
          ON c.id < $CopyIdOffset AND b.id >= $CopyIdOffset
        WHERE bit_count(xor(c.b0, b.b0)) + bit_count(xor(c.b1, b.b1))
            + bit_count(xor(c.b2, b.b2)) + bit_count(xor(c.b3, b.b3)) <= 3
        ORDER BY corpus_id, batch_id""",

    // Video near-dup twin: per-sampled-frame dHash grid bits + the
    // strict-majority fold redone in SQL from the planted frame-pixel
    // rule, then the ALL-PAIRS answer (id_a < id_b, XOR popcount over
    // the 4 band words <= 3) — the banded Spark plan must equal it
    // exactly. Re-muxed copies are container round trips, so they share
    // their base's src and words.
    "p89_video_neardup_pairs" ->
      s"""WITH vids AS (
          SELECT doc_id AS id, doc_id AS src FROM documents
          UNION ALL
          SELECT doc_id + $CopyIdOffset AS id, doc_id AS src FROM documents
          WHERE doc_id % 5 = 0),
        $oVhashCtes
        SELECT a.id AS id_a, b.id AS id_b,
              cast(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
                 + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
                AS integer) AS hamming
        FROM vwords a JOIN vwords b ON a.id < b.id
        WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
        ORDER BY id_a, id_b""",

    // Video-dedup twin: closed-form temporal-fingerprint words ->
    // all-pairs hamming<=3 edges -> recursive-CTE connected components
    // (the p81/p84 pattern) -> min-label cluster + keep-lowest survivor
    // flag.
    "p90_video_dedup_survivors" ->
      s"""WITH RECURSIVE vids AS (
          SELECT doc_id AS id, doc_id AS src FROM documents
          UNION ALL
          SELECT doc_id + $CopyIdOffset AS id, doc_id AS src FROM documents
          WHERE doc_id % 5 = 0),
        $oVhashCtes,
        pr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM vwords a JOIN vwords b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        e AS (SELECT id_a AS s, id_b AS d FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
        rec AS (
          SELECT id, id AS reach FROM vids
          UNION
          SELECT e.s, rec.reach FROM e JOIN rec ON e.d = rec.id)
        SELECT id, min(reach) AS cluster_id,
              id = min(reach) AS is_survivor
        FROM rec GROUP BY id ORDER BY id""",

    // Capstone twin: the whole crawl-to-corpus path recomputed from the
    // planted rules alone — html funnel survivors from the p73/p77 CTEs,
    // image/audio dedup survivors from the closed-form fp word CTEs
    // (sources follow the planted copy rules src=(id//8)*8 / (id//12)*12)
    // through recursive-CTE CC — composing four existing twins with ZERO
    // knowledge of WARC framing, codecs, routing, or the parquet sink the
    // Spark side round-trips through.
    "p91_crawl_curation_capstone" ->
      s"""WITH RECURSIVE ${oHtmlCtes.stripPrefix("WITH ")},
        $oBlockCtes,
        $oUrlCtes,
        mt AS (SELECT id, coalesce(array_to_string(
                 list_transform(kept, rr -> rr.t), ' '), '') AS main_text,
               cast(len(kept) AS integer) AS n_kept FROM k),
        tsurv AS (SELECT id, canon_url, row_number() OVER (
                    PARTITION BY canon_url ORDER BY id) AS rk FROM f),
        ts1 AS (SELECT tsurv.id, mt.main_text, mt.n_kept,
                  length(mt.main_text) AS main_chars
                FROM tsurv JOIN mt ON tsurv.id = mt.id WHERE tsurv.rk = 1),
        tgated AS (SELECT id, md5(regexp_replace(main_text,
                     '^doc [0-9]+ & heading <x> ?', '')) AS fp2
                   FROM ts1 WHERE main_chars >= 120 AND n_kept >= 2),
        tded AS (SELECT id, row_number() OVER (PARTITION BY fp2
                   ORDER BY id) AS rk2 FROM tgated),
        allids AS (SELECT doc_id AS id, (doc_id // 8) * 8 AS src
                   FROM documents WHERE doc_id % 4 = 0),
        ${oDhashCtes(oPixelFp)},
        ipr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM words a JOIN words b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        ie AS (SELECT id_a AS s, id_b AS d FROM ipr
               UNION ALL SELECT id_b, id_a FROM ipr),
        irec AS (
          SELECT id, id AS reach FROM allids
          UNION
          SELECT ie.s, irec.reach FROM ie JOIN irec ON ie.d = irec.id),
        ilab AS (SELECT id, min(reach) AS cluster_id FROM irec GROUP BY id),
        aids AS (SELECT doc_id AS id, (doc_id // 12) * 12 AS src
                 FROM documents WHERE doc_id % 6 = 0),
        $oAfpFpCtes,
        apr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM fwords a JOIN fwords b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        ae AS (SELECT id_a AS s, id_b AS d FROM apr
               UNION ALL SELECT id_b, id_a FROM apr),
        arec AS (
          SELECT id, id AS reach FROM aids
          UNION
          SELECT ae.s, arec.reach FROM ae JOIN arec ON ae.d = arec.id),
        alab AS (SELECT id, min(reach) AS cluster_id FROM arec GROUP BY id)
        SELECT kind, id, cluster_id FROM (
          SELECT 'image' AS kind, id, cluster_id FROM ilab
          WHERE id = cluster_id
          UNION ALL
          SELECT 'audio' AS kind, id, cluster_id FROM alab
          WHERE id = cluster_id
          UNION ALL
          SELECT 'html' AS kind, id, id AS cluster_id FROM tded
          WHERE rk2 = 1)
        ORDER BY kind, id""",

    // Incremental-admission twin: from-scratch CC over the COMBINED
    // corpus+batch graph (base ids, corpus copies at 2^40, batch copies
    // at 2^41 — sharing their base's src — and fresh items at 3*2^40) —
    // the bounded-work bridge admission must label every node exactly
    // as a full recompute would.
    "p92_incremental_cluster_admit" ->
      s"""WITH RECURSIVE allids AS (
          SELECT doc_id AS id, doc_id AS src FROM documents
          UNION ALL
          SELECT doc_id + $CopyIdOffset AS id, doc_id AS src FROM documents
          WHERE doc_id % 5 = 0
          UNION ALL
          SELECT doc_id + $FreshIdOffset AS id, doc_id AS src FROM documents
          WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + $Fresh2IdOffset AS id,
                doc_id + $Fresh2IdOffset AS src
          FROM documents WHERE doc_id % 7 = 3),
        ${oDhashCtes(oPixelFp)},
        pr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM words a JOIN words b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        e AS (SELECT id_a AS s, id_b AS d FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
        rec AS (
          SELECT id, id AS reach FROM allids
          UNION
          SELECT e.s, rec.reach FROM e JOIN rec ON e.d = rec.id)
        SELECT id, min(reach) AS cluster_id
        FROM rec GROUP BY id ORDER BY id""",

    // Classifier twin: rolling codepoint hashes, feature indices, and
    // the planted weight rule w(j) = ((j*37+11) % 201) - 100 all redone
    // arithmetically — per-doc score equality proves the broadcast
    // table, the hash steps, and the bigram combine bit for bit.
    "p93_quality_classifier" ->
      s"""WITH $oFtScoreCtes
        SELECT id AS doc_id,
              cast(n_toks + greatest(n_toks - 1, 0) AS integer) AS n_grams,
              cast(score AS bigint) AS score, score > 0 AS kept
        FROM sc ORDER BY doc_id""",

    // Cascade twin: the same scores folded into per-stage survivor
    // counts.
    "p94_classifier_funnel" ->
      s"""WITH $oFtScoreCtes,
        c AS (SELECT count(*) AS n_all,
                sum(CASE WHEN n_toks >= 10 THEN 1 ELSE 0 END) AS n_len,
                sum(CASE WHEN n_toks >= 10 AND score > 0
                    THEN 1 ELSE 0 END) AS n_ml
              FROM sc)
        SELECT stage_idx, stage, n_docs FROM (
          SELECT 0 AS stage_idx, 'all' AS stage,
                cast(n_all AS bigint) AS n_docs FROM c
          UNION ALL
          SELECT 1, 'min_tokens_10', cast(n_len AS bigint) FROM c
          UNION ALL
          SELECT 2, 'classifier_pos', cast(n_ml AS bigint) FROM c)
        ORDER BY stage_idx""",

    // Differential PQ oracle: rebuild every codebook entry from the
    // planted rule c(m,k,j) = (((m*7 + k*13 + j*29) % 41) - 20) / 20.0,
    // every code by first-minimum argmin (list_position on list_min),
    // and the reconstruction error by m-ascending list_sum — matching
    // Pq.encodeJava's summation order and strict-< tie rule exactly.
    "p95_pq_encode" ->
      s"""WITH $oPqCodeCtes
        SELECT vec_id, cast(pq_code AS bigint) AS pq_code,
               round(err, 6) AS rec_err
        FROM pqagg ORDER BY vec_id""",

    // ADC top-k twin: recompute each (query, candidate, m) distance
    // DIRECTLY from the codebook rule (no LUT) — bit-equal to the
    // engine's lut[m*16+code] probe because both run the identical
    // j-ascending double summation — then m-ascending list_sum and the
    // same (adc, vec_id) ranking.
    "p96_pq_topk" ->
      s"""WITH $oPqCodeCtes,
        q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
              WHERE vec_id % 50 = 0),
        dm AS (SELECT q.qid, c.vec_id, c.m,
            list_sum(list_transform(
              list_transform(range(0, 8), j ->
                q.qe[c.m*8 + j + 1]::DOUBLE
                  - (((c.m*7 + c.code*13 + j*29) % 41 - 20) / 20.0)),
              x -> x * x)) AS d
          FROM q CROSS JOIN pqbest c),
        adc AS (SELECT qid, vec_id,
            list_sum(list(d ORDER BY m)) AS adc
          FROM dm GROUP BY qid, vec_id),
        r AS (SELECT qid, vec_id, adc,
            row_number() OVER (PARTITION BY qid
                               ORDER BY adc, vec_id) AS rn
          FROM adc)
        SELECT qid, vec_id, rn, round(adc, 6) AS adc
        FROM r WHERE rn <= 5 ORDER BY qid, rn""",

    // Window-fingerprint twin: every (clip, window) band word recomputed
    // closed-form from the planted segment-grade waveform rule, offset
    // arithmetic included.
    "p97_audio_window_sigs" ->
      s"""WITH $oAwinCtes
        SELECT a.id AS media_id, cast(s.n AS integer) AS n_frames,
               cast(s.nw AS integer) AS n_wins,
               cast(a.w AS integer) AS win_idx, w0, w1, w2, w3
        FROM awin a JOIN (SELECT DISTINCT id, n, nw FROM swin) s
          ON a.id = s.id
        ORDER BY media_id, win_idx""",

    // Containment twin: window-hash equi-join (all four band words) +
    // the full-coverage alignment count, same one-direction rule for
    // equal-length mutual matches.
    "p98_audio_containment" ->
      s"""WITH $oAwinCtes,
        nws AS (SELECT DISTINCT id, nw FROM swin),
        cand AS (SELECT a.id AS inner_id, b.id AS outer_id,
            b.w - a.w AS delta
          FROM awin a JOIN awin b
            ON a.w0 = b.w0 AND a.w1 = b.w1 AND a.w2 = b.w2
              AND a.w3 = b.w3 AND a.id <> b.id),
        grp AS (SELECT inner_id, outer_id, delta, count(*) AS matched
          FROM cand GROUP BY inner_id, outer_id, delta),
        ok AS (SELECT g.inner_id, g.outer_id, g.delta, g.matched
          FROM grp g JOIN nws na ON g.inner_id = na.id
            JOIN nws nb ON g.outer_id = nb.id
          WHERE g.matched = na.nw
            AND (na.nw < nb.nw
              OR (na.nw = nb.nw AND g.inner_id < g.outer_id)))
        SELECT inner_id, outer_id, cast(delta AS bigint) AS offset_wins,
               cast(matched AS bigint) AS n_wins
        FROM ok ORDER BY inner_id, outer_id, offset_wins""",

    // Per-frame dHash twin: every (clip, frame) band word recomputed
    // closed-form from the segment-grade pixel rule, absolute-frame
    // arithmetic included.
    "p99_video_frame_sigs" ->
      s"""WITH $oVseqCtes
        SELECT f.id AS media_id, cast(s.n AS integer) AS n_frames,
               cast(f.j AS integer) AS frame_idx, w0, w1, w2, w3
        FROM vfh f JOIN vsids s ON f.id = s.id
        ORDER BY media_id, frame_idx""",

    // Video containment twin: frame-hash equi-join (all four band
    // words) + the full-coverage alignment count, same one-direction
    // rule for equal-length mutual matches.
    "p100_video_containment" ->
      s"""WITH $oVseqCtes,
        vnw AS (SELECT id, n FROM vsids),
        vcand AS (SELECT a.id AS inner_id, b.id AS outer_id,
            b.j - a.j AS delta
          FROM vfh a JOIN vfh b
            ON a.w0 = b.w0 AND a.w1 = b.w1 AND a.w2 = b.w2
              AND a.w3 = b.w3 AND a.id <> b.id),
        vgrp AS (SELECT inner_id, outer_id, delta, count(*) AS matched
          FROM vcand GROUP BY inner_id, outer_id, delta),
        vok AS (SELECT g.inner_id, g.outer_id, g.delta, g.matched
          FROM vgrp g JOIN vnw na ON g.inner_id = na.id
            JOIN vnw nb ON g.outer_id = nb.id
          WHERE g.matched = na.n
            AND (na.n < nb.n
              OR (na.n = nb.n AND g.inner_id < g.outer_id)))
        SELECT inner_id, outer_id, cast(delta AS bigint) AS offset_frames,
               cast(matched AS bigint) AS n_matched
        FROM vok ORDER BY inner_id, outer_id, offset_frames""",

    // Compaction is content-transparent: the read-back equals the source
    // table (file-count/size contracts are spec-pinned — bytes aren't
    // SQL-derivable).
    "p101_compaction_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        ORDER BY doc_id""",

    // Crawl-embedded video-dedup twin: the p90 recursive-CC shape under
    // the WARC fixture's (id/10)*10 copy rule — every 5th doc carries a
    // clip, id = 5 (mod 10) a byte-identical copy of id-5's.
    "p102_crawl_video_dedup" ->
      s"""WITH RECURSIVE vids AS (
          SELECT doc_id AS id, (doc_id // 10) * 10 AS src FROM documents
          WHERE doc_id % 5 = 0),
        $oVhashCtes,
        pr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM vwords a JOIN vwords b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        e AS (SELECT id_a AS s, id_b AS d FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
        rec AS (
          SELECT id, id AS reach FROM vids
          UNION
          SELECT e.s, rec.reach FROM e JOIN rec ON e.d = rec.id)
        SELECT id, min(reach) AS cluster_id,
              id = min(reach) AS is_survivor
        FROM rec GROUP BY id ORDER BY id""",

    // IVF-PQ twin: the coarse assignment (first-min argmin over the
    // planted full-dim centroid rule), each query's probe ranking
    // (row_number over (distance, cell)), and every within-list ADC
    // distance recomputed directly from both codebook rules — the p96
    // oracle restricted to probed inverted lists.
    "p103_ivfpq_topk" ->
      s"""WITH $oPqCodeCtes,
        coarse AS (SELECT vec_id, embedding,
            list_transform(range(0, 16), l ->
              list_sum(list_transform(
                list_transform(range(0, 64), j ->
                  embedding[j + 1]::DOUBLE
                    - (((l*17 + j*23) % 37 - 18) / 18.0)),
                x -> x * x))) AS dl
          FROM embeddings),
        ccell AS (SELECT vec_id,
            list_position(dl, list_min(dl)) - 1 AS cell
          FROM coarse),
        qc AS (SELECT vec_id AS qid, embedding AS qe, dl FROM coarse
              WHERE vec_id % 50 = 0),
        qpr AS (SELECT qid, qe, gl.l AS cell,
            row_number() OVER (PARTITION BY qid
                               ORDER BY dl[gl.l + 1], gl.l) AS pr
          FROM qc, (SELECT unnest(range(0, 16)) AS l) gl),
        probes AS (SELECT qid, qe, cell FROM qpr WHERE pr <= 4),
        cand AS (SELECT p.qid, p.qe, c.vec_id
          FROM probes p JOIN ccell c ON p.cell = c.cell),
        dm AS (SELECT cd.qid, cd.vec_id, b.m,
            list_sum(list_transform(
              list_transform(range(0, 8), j ->
                cd.qe[b.m*8 + j + 1]::DOUBLE
                  - (((b.m*7 + b.code*13 + j*29) % 41 - 20) / 20.0)),
              x -> x * x)) AS d
          FROM cand cd JOIN pqbest b ON cd.vec_id = b.vec_id),
        adc AS (SELECT qid, vec_id,
            list_sum(list(d ORDER BY m)) AS adc
          FROM dm GROUP BY qid, vec_id),
        r AS (SELECT qid, vec_id, adc,
            row_number() OVER (PARTITION BY qid
                               ORDER BY adc, vec_id) AS rn
          FROM adc)
        SELECT qid, vec_id, rn, round(adc, 6) AS adc
        FROM r WHERE rn <= 5 ORDER BY qid, rn""",

    // Shard-export twin: token counts from the recursive big-vocab BPE
    // walk (the p87 oracle), then the p21 packing arithmetic over TOKENS
    // — exclusive doc_id-ordered prefix sum, floor(excl / budget).
    "p104_shard_export" ->
      s"""$oBpeBigWalk,
        tk AS (SELECT id AS doc_id, cast(cnt AS bigint) AS n_toks
              FROM walk WHERE cur = length(nt) + 1),
        pk AS (SELECT doc_id, n_toks,
              coalesce(sum(n_toks) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
              FROM tk)
        SELECT cast(floor(excl / 20000) AS integer) AS shard,
              count(*) AS n_docs, cast(sum(n_toks) AS bigint) AS total_toks,
              min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM pk GROUP BY shard ORDER BY shard""",

    // Residual IVF-PQ twin: cell assignment, per-(vector, m) residual
    // argmin against BOTH planted codebook rules ((emb − C) − c, the
    // documented two-subtraction order), probe ranking, and the
    // within-list residual ADC — all recomputed arithmetically.
    "p105_ivfpq_residual_topk" ->
      s"""WITH coarse AS (SELECT vec_id, embedding,
            list_transform(range(0, 16), l ->
              list_sum(list_transform(
                list_transform(range(0, 64), j ->
                  embedding[j + 1]::DOUBLE
                    - (((l*17 + j*23) % 37 - 18) / 18.0)),
                x -> x * x))) AS dl
          FROM embeddings),
        ccell AS (SELECT vec_id, embedding,
            list_position(dl, list_min(dl)) - 1 AS cell
          FROM coarse),
        rbest AS (SELECT vec_id, cell, gm.m AS m,
            list_transform(range(0, 16), k ->
              list_sum(list_transform(
                list_transform(range(0, 8), j ->
                  (embedding[gm.m*8 + j + 1]::DOUBLE
                     - (((cell*17 + (gm.m*8 + j)*23) % 37 - 18) / 18.0))
                  - (((gm.m*7 + k*13 + j*29) % 41 - 20) / 20.0)),
                x -> x * x))) AS dl2
          FROM ccell, (SELECT unnest(range(0, 8)) AS m) gm),
        rcode AS (SELECT vec_id, cell, m,
            list_position(dl2, list_min(dl2)) - 1 AS code
          FROM rbest),
        qc AS (SELECT vec_id AS qid, embedding AS qe, dl FROM coarse
              WHERE vec_id % 50 = 0),
        qpr AS (SELECT qid, qe, gl.l AS cell,
            row_number() OVER (PARTITION BY qid
                               ORDER BY dl[gl.l + 1], gl.l) AS pr
          FROM qc, (SELECT unnest(range(0, 16)) AS l) gl),
        probes AS (SELECT qid, qe, cell FROM qpr WHERE pr <= 4),
        dm AS (SELECT p.qid, c.vec_id, c.m,
            list_sum(list_transform(
              list_transform(range(0, 8), j ->
                (p.qe[c.m*8 + j + 1]::DOUBLE
                   - (((c.cell*17 + (c.m*8 + j)*23) % 37 - 18) / 18.0))
                - (((c.m*7 + c.code*13 + j*29) % 41 - 20) / 20.0)),
              x -> x * x)) AS d
          FROM probes p JOIN rcode c ON p.cell = c.cell),
        adc AS (SELECT qid, vec_id,
            list_sum(list(d ORDER BY m)) AS adc
          FROM dm GROUP BY qid, vec_id),
        r AS (SELECT qid, vec_id, adc,
            row_number() OVER (PARTITION BY qid
                               ORDER BY adc, vec_id) AS rn
          FROM adc)
        SELECT qid, vec_id, rn, round(adc, 6) AS adc
        FROM r WHERE rn <= 5 ORDER BY qid, rn""",

    // Training twin: the whole Lloyd run replayed arithmetically —
    // every centroid of every iteration snapshot.
    "p106_kmeans_train" ->
      s"""WITH ${oKmCtes(KmIters)}
        SELECT CAST(iter AS bigint) AS iter, CAST(cell AS bigint) AS cell,
               CAST(dim AS bigint) AS dim_idx, cval
        FROM (SELECT * FROM kmc0 UNION ALL SELECT * FROM kmc1
              UNION ALL SELECT * FROM kmc2 UNION ALL SELECT * FROM kmc3)
        ORDER BY iter, cell, dim_idx""",

    // Inertia twin: iteration t's Σ round(min d², 6) as exact DECIMAL,
    // recomputed from iteration t's own distance relation.
    "p107_kmeans_inertia" ->
      s"""WITH ${oKmCtes(KmIters)}
        SELECT CAST(iter AS bigint) AS iter, inertia FROM (
          SELECT 1 AS iter,
                 CAST(sum(CAST(round(md, 6) AS decimal(38,6))) AS double)
                   AS inertia
          FROM (SELECT vec_id, min(d2) AS md FROM kmd1 GROUP BY vec_id)
          UNION ALL
          SELECT 2 AS iter,
                 CAST(sum(CAST(round(md, 6) AS decimal(38,6))) AS double)
          FROM (SELECT vec_id, min(d2) AS md FROM kmd2 GROUP BY vec_id)
          UNION ALL
          SELECT 3 AS iter,
                 CAST(sum(CAST(round(md, 6) AS decimal(38,6))) AS double)
          FROM (SELECT vec_id, min(d2) AS md FROM kmd3 GROUP BY vec_id))
        ORDER BY iter""",

    // Assignment twin: final-snapshot distances (kmdF), first-min
    // argmin, rounded min distance.
    "p108_kmeans_assign" ->
      s"""WITH ${oKmCtes(KmIters)}
        SELECT vec_id,
               CAST(list_position(l, list_min(l)) - 1 AS bigint) AS cell,
               round(list_min(l), 6) AS d2
        FROM (SELECT vec_id, list(d2 ORDER BY cell) AS l
              FROM kmdF GROUP BY vec_id)
        ORDER BY vec_id""",

    // Trained-IVF top-k twin: corpus cells and query probes both from
    // the TRAINED final snapshot (kmdF), ADC distances recomputed
    // directly from the planted PQ codebook rule (the p103 machinery).
    "p109_ivfpq_trained_topk" ->
      s"""WITH $oTrainedIvfCtes
        SELECT qid, vec_id, rn, round(adc, 6) AS adc
        FROM tivf WHERE rn <= 5 ORDER BY qid, rn""",

    // Trainer twin: every selected merge of the unrolled run.
    "p110_bpe_train" ->
      s"""WITH ${oBpeCtes(BpeBudget)}
        SELECT * FROM (${(1 to BpeBudget).map(t =>
          s"""SELECT CAST($t AS bigint) AS mrank, l AS lhs, r AS rhs,
              l || r AS merged, CAST(cnt AS bigint) AS cnt
            FROM bbest$t""").mkString("\n          UNION ALL\n          ")})
        ORDER BY mrank""",

    // Trained-tokenizer twin: per-doc token counts via the tokenized
    // vocabulary of the final rank.
    "p111_bpe_trained_tokens" ->
      s"""WITH ${oBpeCtes(BpeBudget)},
        bsz AS (SELECT word, count(*) AS n_syms
          FROM bw$BpeBudget GROUP BY word),
        dw AS (SELECT doc_id, t.word
          FROM documents,
               unnest(list_filter($oToks, x -> length(x) > 0)) AS t(word)
          WHERE regexp_matches(t.word, '^[a-z0-9]+$$'))
        SELECT dw.doc_id, CAST(count(*) AS bigint) AS n_words,
               CAST(sum(z.n_syms) AS bigint) AS n_toks
        FROM dw JOIN bsz z ON z.word = dw.word
        GROUP BY dw.doc_id ORDER BY dw.doc_id""",

    // Survivor twin: the p98 alignment join extended with the slice
    // derivation (three-level chain) and the inner-side drop rule.
    "p112_containment_survivors" ->
      s"""WITH $oAwinCtes,
        nws AS (SELECT DISTINCT id, nw FROM swin),
        aw AS (SELECT a.id, a.w, s.nw, a.w0, a.w1, a.w2, a.w3
          FROM awin a JOIN nws s ON a.id = s.id),
        subw AS (SELECT id + 4398046511104 AS id, w - 1 AS w,
            nw - 2 AS nw, w0, w1, w2, w3
          FROM aw WHERE id % 7 = 5 AND nw >= 3 AND w >= 1 AND w <= nw - 2),
        allw AS (SELECT * FROM aw UNION ALL SELECT * FROM subw),
        cand AS (SELECT a.id AS inner_id, b.id AS outer_id, b.w - a.w AS delta
          FROM allw a JOIN allw b
            ON a.w0 = b.w0 AND a.w1 = b.w1 AND a.w2 = b.w2 AND a.w3 = b.w3
              AND a.id <> b.id),
        grp AS (SELECT inner_id, outer_id, delta, count(*) AS matched
          FROM cand GROUP BY inner_id, outer_id, delta),
        nall AS (SELECT DISTINCT id, nw FROM allw),
        ok AS (SELECT g.inner_id
          FROM grp g JOIN nall na ON g.inner_id = na.id
            JOIN nall nb ON g.outer_id = nb.id
          WHERE g.matched = na.nw
            AND (na.nw < nb.nw
              OR (na.nw = nb.nw AND g.inner_id < g.outer_id)))
        SELECT id, id NOT IN (SELECT inner_id FROM ok) AS is_survivor
        FROM (SELECT DISTINCT id FROM allw)
        ORDER BY id""",

    // Incremental-containment twin: cross-side candidates only (both
    // directions), batch = the slice + copy derivations.
    "p113_incremental_containment" ->
      s"""WITH $oAwinCtes,
        nws AS (SELECT DISTINCT id, nw FROM swin),
        aw AS (SELECT a.id, a.w, s.nw, a.w0, a.w1, a.w2, a.w3
          FROM awin a JOIN nws s ON a.id = s.id),
        bw AS (SELECT id + 8796093022208 AS id, w - 1 AS w,
            nw - 2 AS nw, w0, w1, w2, w3
          FROM aw WHERE id % 7 = 1 AND nw >= 3 AND w >= 1 AND w <= nw - 2
          UNION ALL
          SELECT id + 8796093022208 AS id, w, nw, w0, w1, w2, w3
          FROM aw WHERE id % 7 = 2),
        cand AS (SELECT a.id AS inner_id, b.id AS outer_id, b.w - a.w AS delta
          FROM aw a JOIN bw b
            ON a.w0 = b.w0 AND a.w1 = b.w1 AND a.w2 = b.w2 AND a.w3 = b.w3
          UNION ALL
          SELECT a.id, b.id, b.w - a.w
          FROM bw a JOIN aw b
            ON a.w0 = b.w0 AND a.w1 = b.w1 AND a.w2 = b.w2 AND a.w3 = b.w3),
        grp AS (SELECT inner_id, outer_id, delta, count(*) AS matched
          FROM cand GROUP BY inner_id, outer_id, delta),
        nall AS (SELECT id, nw FROM nws
          UNION ALL SELECT DISTINCT id, nw FROM bw),
        ok AS (SELECT g.inner_id, g.outer_id, g.delta, g.matched
          FROM grp g JOIN nall na ON g.inner_id = na.id
            JOIN nall nb ON g.outer_id = nb.id
          WHERE g.matched = na.nw
            AND (na.nw < nb.nw
              OR (na.nw = nb.nw AND g.inner_id < g.outer_id)))
        SELECT inner_id, outer_id, CAST(delta AS bigint) AS offset_wins,
               CAST(matched AS bigint) AS n_wins
        FROM ok ORDER BY inner_id, outer_id, offset_wins""",

    // Full-capstone twin: the p91 composition plus the p102 video CTEs
    // (closed-form majority-fold words under the (id/10)*10 copy rule +
    // recursive-CTE CC) as the fourth branch.
    "p114_crawl_capstone_full" ->
      s"""WITH RECURSIVE ${oHtmlCtes.stripPrefix("WITH ")},
        $oBlockCtes,
        $oUrlCtes,
        mt AS (SELECT id, coalesce(array_to_string(
                 list_transform(kept, rr -> rr.t), ' '), '') AS main_text,
               cast(len(kept) AS integer) AS n_kept FROM k),
        tsurv AS (SELECT id, canon_url, row_number() OVER (
                    PARTITION BY canon_url ORDER BY id) AS rk FROM f),
        ts1 AS (SELECT tsurv.id, mt.main_text, mt.n_kept,
                  length(mt.main_text) AS main_chars
                FROM tsurv JOIN mt ON tsurv.id = mt.id WHERE tsurv.rk = 1),
        tgated AS (SELECT id, md5(regexp_replace(main_text,
                     '^doc [0-9]+ & heading <x> ?', '')) AS fp2
                   FROM ts1 WHERE main_chars >= 120 AND n_kept >= 2),
        tded AS (SELECT id, row_number() OVER (PARTITION BY fp2
                   ORDER BY id) AS rk2 FROM tgated),
        allids AS (SELECT doc_id AS id, (doc_id // 8) * 8 AS src
                   FROM documents WHERE doc_id % 4 = 0),
        ${oDhashCtes(oPixelFp)},
        ipr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM words a JOIN words b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        ie AS (SELECT id_a AS s, id_b AS d FROM ipr
               UNION ALL SELECT id_b, id_a FROM ipr),
        irec AS (
          SELECT id, id AS reach FROM allids
          UNION
          SELECT ie.s, irec.reach FROM ie JOIN irec ON ie.d = irec.id),
        ilab AS (SELECT id, min(reach) AS cluster_id FROM irec GROUP BY id),
        aids AS (SELECT doc_id AS id, (doc_id // 12) * 12 AS src
                 FROM documents WHERE doc_id % 6 = 0),
        $oAfpFpCtes,
        apr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM fwords a JOIN fwords b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        ae AS (SELECT id_a AS s, id_b AS d FROM apr
               UNION ALL SELECT id_b, id_a FROM apr),
        arec AS (
          SELECT id, id AS reach FROM aids
          UNION
          SELECT ae.s, arec.reach FROM ae JOIN arec ON ae.d = arec.id),
        alab AS (SELECT id, min(reach) AS cluster_id FROM arec GROUP BY id),
        vids AS (SELECT doc_id AS id, (doc_id // 10) * 10 AS src
                 FROM documents WHERE doc_id % 5 = 0),
        $oVhashCtes,
        vpr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM vwords a JOIN vwords b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        ve AS (SELECT id_a AS s, id_b AS d FROM vpr
               UNION ALL SELECT id_b, id_a FROM vpr),
        vrec AS (
          SELECT id, id AS reach FROM vids
          UNION
          SELECT ve.s, vrec.reach FROM ve JOIN vrec ON ve.d = vrec.id),
        vlab AS (SELECT id, min(reach) AS cluster_id FROM vrec GROUP BY id)
        SELECT kind, id, cluster_id FROM (
          SELECT 'image' AS kind, id, cluster_id FROM ilab
          WHERE id = cluster_id
          UNION ALL
          SELECT 'audio' AS kind, id, cluster_id FROM alab
          WHERE id = cluster_id
          UNION ALL
          SELECT 'video' AS kind, id, cluster_id FROM vlab
          WHERE id = cluster_id
          UNION ALL
          SELECT 'html' AS kind, id, id AS cluster_id FROM tded
          WHERE rk2 = 1)
        ORDER BY kind, id""",

    // Classifier-training twin: the p93 hash walk re-used to emit the
    // feature MULTISET per doc, then counts and the fixed-point weight
    // rule replayed with integer arithmetic.
    "p115_classifier_train" ->
      s"""WITH $oFtFeatCtes
        SELECT CAST(f AS bigint) AS feat, CAST(sum(p) AS bigint) AS n_pos,
               CAST(sum(1 - p) AS bigint) AS n_neg,
               CAST(((sum(p) + 1) * 200) // (sum(p) + sum(1 - p) + 2) - 100
                 AS bigint) AS w
        FROM fidx JOIN flab USING (id)
        GROUP BY f ORDER BY feat""",

    // Trained-score twin: weights re-derived from the counts, every doc
    // re-scored by summing its feature multiset's weights.
    "p116_classifier_trained_scores" ->
      s"""WITH $oFtFeatCtes,
        wtab AS (SELECT f,
            ((sum(p) + 1) * 200) // (sum(p) + sum(1 - p) + 2) - 100 AS w
          FROM fidx JOIN flab USING (id) GROUP BY f),
        dsc AS (SELECT fx.id, CAST(sum(coalesce(w.w, 0)) AS bigint) AS score
          FROM fidx fx LEFT JOIN wtab w ON fx.f = w.f GROUP BY fx.id)
        SELECT d.doc_id, coalesce(dsc.score, 0) AS score,
               coalesce(dsc.score, 0) > 0 AS kept
        FROM documents d LEFT JOIN dsc ON d.doc_id = dsc.id
        ORDER BY doc_id""",

    // PQ-trainer twin: every (m, cell, j) centroid of every snapshot.
    "p117_pq_train" ->
      s"""WITH ${oPtCtes(KmIters)}
        SELECT CAST(iter AS bigint) AS iter, CAST(m AS bigint) AS m,
               CAST(cell AS bigint) AS cell, CAST(dim AS bigint) AS dim_idx,
               cval
        FROM (SELECT * FROM pt0 UNION ALL SELECT * FROM pt1
              UNION ALL SELECT * FROM pt2 UNION ALL SELECT * FROM pt3)
        ORDER BY iter, m, cell, dim_idx""",

    // Trained-ADC twin: candidate codes from the final snapshot
    // (ptbest), every (query, candidate, m) distance recomputed against
    // the trained centroid lists, m-ascending sum, same ranking.
    "p118_pq_trained_topk" ->
      s"""WITH ${oPtCtes(KmIters)},
        q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
              WHERE vec_id % 50 = 0
                AND embedding IS NOT NULL AND len(embedding) >= 64),
        dm AS (SELECT q.qid, c.vec_id, c.m,
            list_sum(list_transform(range(0, 8), j ->
              (q.qe[c.m*8 + j + 1]::DOUBLE - a.cv[j + 1])
                * (q.qe[c.m*8 + j + 1]::DOUBLE - a.cv[j + 1]))) AS d
          FROM q CROSS JOIN ptbest c
          JOIN ptarr${KmIters} a ON a.m = c.m AND a.cell = c.code),
        adc AS (SELECT qid, vec_id,
            list_sum(list(d ORDER BY m)) AS adc
          FROM dm GROUP BY qid, vec_id),
        r AS (SELECT qid, vec_id, adc,
            row_number() OVER (PARTITION BY qid
                               ORDER BY adc, vec_id) AS rn
          FROM adc)
        SELECT qid, vec_id, rn, round(adc, 6) AS adc
        FROM r WHERE rn <= 5 ORDER BY qid, rn""",

    // Recall twin: the exact float-L2 top-5 (brute-force ranking) and
    // the trained-index top-5 (tivf) both recomputed, intersected per
    // query; n/5.0 is exactly representable so equality is bit-strict.
    "p119_ann_recall" ->
      s"""WITH $oTrainedIvfCtes,
        xq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
          WHERE vec_id % 50 = 0
            AND embedding IS NOT NULL AND len(embedding) >= 64),
        xd AS (SELECT xq.qid, e.vec_id,
            row_number() OVER (PARTITION BY xq.qid ORDER BY
              list_sum(list_transform(list_zip(xq.qe, e.embedding),
                z -> (z[1]::DOUBLE - z[2]::DOUBLE)
                   * (z[1]::DOUBLE - z[2]::DOUBLE))),
              e.vec_id) AS rn
          FROM xq CROSS JOIN embeddings e
          WHERE e.embedding IS NOT NULL AND len(e.embedding) >= 64),
        xhits AS (SELECT x.qid, count(*) AS n
          FROM (SELECT qid, vec_id FROM xd WHERE rn <= 5) x
          JOIN (SELECT qid, vec_id FROM tivf WHERE rn <= 5) i
            ON x.qid = i.qid AND x.vec_id = i.vec_id
          GROUP BY x.qid)
        SELECT xq.qid, CAST(coalesce(h.n, 0) AS bigint) AS n_hits,
               coalesce(h.n, 0) / 5.0 AS recall
        FROM xq LEFT JOIN xhits h ON xq.qid = h.qid
        ORDER BY xq.qid""",

    // SemDeDup twin: the planted re-ingest, the trained-cell argmin of
    // every (original + planted) vector against the final snapshot
    // (kmcarr$KmIters), every within-cell pair distance, and the
    // keep-smallest-id rule — all recomputed.
    "p120_semantic_dedup" ->
      s"""WITH ${oKmCtes(KmIters)},
        sd0 AS (SELECT vec_id, embedding[:64] AS v FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) >= 64),
        sdall AS MATERIALIZED (
          SELECT vec_id, v FROM sd0
          UNION ALL
          SELECT vec_id + 1000000, v FROM sd0 WHERE vec_id % 10 = 3
          UNION ALL
          SELECT vec_id + 2000000,
                 [0.5::FLOAT] || v[2:] FROM sd0 WHERE vec_id % 20 = 7),
        sdd AS MATERIALIZED (SELECT a.vec_id, c.cell,
            list_sum(list_transform(list_zip(a.v, c.cv),
              z -> (z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]))) AS d2
          FROM sdall a CROSS JOIN kmcarr$KmIters c),
        sda AS MATERIALIZED (SELECT vec_id, cell FROM
            (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
                ORDER BY d2, cell) AS rn FROM sdd)
          WHERE rn = 1),
        sddup AS (SELECT x.vec_id FROM sda x
          JOIN sda y ON x.cell = y.cell AND y.vec_id < x.vec_id
          JOIN sdall xv ON xv.vec_id = x.vec_id
          JOIN sdall yv ON yv.vec_id = y.vec_id
          WHERE list_sum(list_transform(list_zip(xv.v, yv.v),
              z -> (z[1]::DOUBLE - z[2]::DOUBLE)
                 * (z[1]::DOUBLE - z[2]::DOUBLE))) <= 1.0
          GROUP BY x.vec_id)
        SELECT a.vec_id, CAST(a.cell AS bigint) AS cell,
               (d.vec_id IS NULL) AS kept
        FROM sda a LEFT JOIN sddup d ON a.vec_id = d.vec_id
        ORDER BY a.vec_id""",

    // Admission twin: the FROM-SCRATCH fully-trained index — both
    // trainings replayed, cells from the trained coarse snapshot
    // (kmdF), codes and ADC from the trained PQ snapshot (ptbest /
    // ptarr) — with no knowledge of the corpus/batch split or the
    // landed-parquet hop. Incremental admission must be invisible.
    "p121_vector_index_admit" ->
      s"""WITH ${oPtCtes(KmIters)}, ${oKmCtes(KmIters)},
        vccell AS (SELECT vec_id, cell FROM
            (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
                ORDER BY d2, cell) AS rn FROM kmdF)
          WHERE rn = 1),
        vqpr AS (SELECT vec_id AS qid, cell,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, cell) AS pr
          FROM kmdF WHERE vec_id % 50 = 0),
        vcand AS (SELECT p.qid, c.vec_id
          FROM (SELECT qid, cell FROM vqpr WHERE pr <= 4) p
          JOIN vccell c ON p.cell = c.cell),
        vdm AS (SELECT cd.qid, cd.vec_id, b.m,
            list_sum(list_transform(range(0, 8), j ->
              (q.embedding[b.m*8 + j + 1]::DOUBLE - a.cv[j + 1])
                * (q.embedding[b.m*8 + j + 1]::DOUBLE - a.cv[j + 1]))) AS d
          FROM vcand cd
          JOIN embeddings q ON q.vec_id = cd.qid
          JOIN ptbest b ON cd.vec_id = b.vec_id
          JOIN ptarr$KmIters a ON a.m = b.m AND a.cell = b.code),
        vadc AS (SELECT qid, vec_id,
            list_sum(list(d ORDER BY m)) AS adc
          FROM vdm GROUP BY qid, vec_id),
        vr AS (SELECT qid, vec_id, adc,
            row_number() OVER (PARTITION BY qid
                               ORDER BY adc, vec_id) AS rn
          FROM vadc)
        SELECT qid, vec_id, rn, round(adc, 6) AS adc
        FROM vr WHERE rn <= 5 ORDER BY qid, rn""",

    // All-trained recipe twin: trained weights re-derived from label
    // counts, docs gated on the recomputed score, kept docs priced by
    // the trained-merge vocabulary, the prefix-sum shard arithmetic
    // recomputed closed-form (the p104 twin with both artifacts
    // trained).
    "p122_trained_recipe_export" ->
      s"""WITH $oFtFeatCtes, ${oBpeCtes(BpeBudget)},
        wtab AS (SELECT f,
            ((sum(p) + 1) * 200) // (sum(p) + sum(1 - p) + 2) - 100 AS w
          FROM fidx JOIN flab USING (id) GROUP BY f),
        dsc AS (SELECT fx.id, CAST(sum(coalesce(w.w, 0)) AS bigint) AS score
          FROM fidx fx LEFT JOIN wtab w ON fx.f = w.f GROUP BY fx.id),
        dscall AS (SELECT d.doc_id,
            coalesce(dsc.score, 0) + 1000000000 AS s2
          FROM documents d LEFT JOIN dsc ON d.doc_id = dsc.id),
        thr AS (SELECT sum(s2) // greatest(count(*), 1) AS t FROM dscall),
        keptd AS (SELECT doc_id FROM dscall, thr WHERE s2 > t),
        bsz AS (SELECT word, count(*) AS n_syms
          FROM bw$BpeBudget GROUP BY word),
        dw AS (SELECT doc_id, t.word
          FROM documents,
               unnest(list_filter($oToks, x -> length(x) > 0)) AS t(word)
          WHERE regexp_matches(t.word, '^[a-z0-9]+$$')),
        tk AS (SELECT dw.doc_id, CAST(sum(z.n_syms) AS bigint) AS n_toks
          FROM dw JOIN bsz z ON z.word = dw.word
          JOIN keptd k ON k.doc_id = dw.doc_id
          GROUP BY dw.doc_id),
        pk AS (SELECT doc_id, n_toks,
            coalesce(sum(n_toks) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
          FROM tk)
        SELECT CAST(floor(excl / 20000) AS integer) AS shard,
               count(*) AS n_docs, CAST(sum(n_toks) AS bigint) AS total_toks,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM pk GROUP BY shard ORDER BY shard""",

    // Balanced-panel twin: the trained-cell argmin (kmdF) plus the
    // scrambled-key within-cell rank, quota 8.
    "p123_cluster_balanced_sample" ->
      s"""WITH ${oKmCtes(KmIters)},
        bsa AS (SELECT vec_id, cell FROM
            (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
                ORDER BY d2, cell) AS rn FROM kmdF)
          WHERE rn = 1),
        bsr AS (SELECT vec_id, cell,
            row_number() OVER (PARTITION BY cell
              ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS rk
          FROM bsa)
        SELECT vec_id, CAST(cell AS bigint) AS cell, CAST(rk AS bigint) AS rk
        FROM bsr WHERE rk <= 8 ORDER BY cell, rk""",

    // kNN-classify twin: the trained-index top-5 (tivf), neighbor
    // labels joined in, votes counted, the (count desc, label asc)
    // tie rule replayed.
    "p124_knn_label_predict" ->
      s"""WITH $oTrainedIvfCtes,
        kv AS (SELECT t.qid, e.label, count(*) AS n_votes
          FROM tivf t JOIN embeddings e ON e.vec_id = t.vec_id
          WHERE t.rn <= 5 GROUP BY t.qid, e.label),
        kw AS (SELECT qid, label, n_votes,
            row_number() OVER (PARTITION BY qid
              ORDER BY n_votes DESC, label) AS vr
          FROM kv)
        SELECT k.qid, CAST(k.label AS integer) AS pred_label, k.n_votes,
               CAST(q.label AS integer) AS true_label,
               k.label = q.label AS correct
        FROM kw k JOIN embeddings q ON q.vec_id = k.qid
        WHERE k.vr = 1 ORDER BY k.qid""",

    // Health twin: trained-cell argmin (kmdF), per-vector error as the
    // m-ascending sum of per-subspace argmin distances against the
    // trained snapshot (ptdF), round-6 DECIMAL totals per cell.
    "p125_index_health" ->
      s"""WITH ${oPtCtes(KmIters)}, ${oKmCtes(KmIters)},
        hcell AS (SELECT vec_id, cell FROM
            (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
                ORDER BY d2, cell) AS rn FROM kmdF)
          WHERE rn = 1),
        herr AS (SELECT vec_id, list_sum(list(md ORDER BY m)) AS err
          FROM (SELECT vec_id, m, min(d2) AS md
                FROM ptdF GROUP BY vec_id, m)
          GROUP BY vec_id)
        SELECT CAST(c.cell AS bigint) AS cell, count(*) AS n_vecs,
               CAST(sum(CAST(round(e.err, 6) AS decimal(38,6))) AS double)
                 AS total_err
        FROM hcell c JOIN herr e ON c.vec_id = e.vec_id
        GROUP BY c.cell ORDER BY cell""",

    // Fully-trained residual twin: coarse training replayed (oKmCtes),
    // residuals derived with the same per-element float cast, the PQ
    // trainer replayed OVER THE RESIDUAL RELATION (oPtCtes src
    // override), then both argmins, the probe ranking, and each
    // (query, probed-cell) residual ADC recomputed.
    "p126_residual_trained_topk" ->
      s"""WITH ${oKmCtes(KmIters)},
        rcell AS MATERIALIZED (SELECT vec_id, cell FROM
            (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
                ORDER BY d2, cell) AS rn FROM kmdF)
          WHERE rn = 1),
        ${oPtCtes(KmIters, s"""(SELECT e.vec_id,
            list_transform(list_zip(e.embedding, c.cv),
              z -> CAST(z[1]::DOUBLE - z[2] AS FLOAT)) AS embedding
          FROM embeddings e
          JOIN rcell a ON a.vec_id = e.vec_id
          JOIN kmcarr$KmIters c ON c.cell = a.cell)""")},
        zqpr AS (SELECT vec_id AS qid, cell,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, cell) AS pr
          FROM kmdF WHERE vec_id % 50 = 0),
        zcand AS (SELECT p.qid, p.cell, c.vec_id
          FROM (SELECT qid, cell FROM zqpr WHERE pr <= 4) p
          JOIN rcell c ON p.cell = c.cell),
        zdm AS (SELECT cd.qid, cd.vec_id, b.m,
            list_sum(list_transform(range(0, 8), j ->
              (CAST(q.embedding[b.m*8 + j + 1]::DOUBLE
                  - qc.cv[b.m*8 + j + 1] AS FLOAT)::DOUBLE - a.cv[j + 1])
              * (CAST(q.embedding[b.m*8 + j + 1]::DOUBLE
                  - qc.cv[b.m*8 + j + 1] AS FLOAT)::DOUBLE - a.cv[j + 1])))
              AS d
          FROM zcand cd
          JOIN embeddings q ON q.vec_id = cd.qid
          JOIN kmcarr$KmIters qc ON qc.cell = cd.cell
          JOIN ptbest b ON b.vec_id = cd.vec_id
          JOIN ptarr$KmIters a ON a.m = b.m AND a.cell = b.code),
        zadc AS (SELECT qid, vec_id,
            list_sum(list(d ORDER BY m)) AS adc
          FROM zdm GROUP BY qid, vec_id),
        zr AS (SELECT qid, vec_id, adc,
            row_number() OVER (PARTITION BY qid
                               ORDER BY adc, vec_id) AS rn
          FROM zadc)
        SELECT qid, vec_id, rn, round(adc, 6) AS adc
        FROM zr WHERE rn <= 5 ORDER BY qid, rn""",

    // Matryoshka twin: both exact rankings (full and 16-dim prefix)
    // and the intersection recomputed; n/5.0 is exactly representable.
    "p127_matryoshka_recall" ->
      s"""WITH mq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
          WHERE vec_id % 50 = 0
            AND embedding IS NOT NULL AND len(embedding) >= 64),
        me AS (SELECT vec_id, embedding FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) >= 64),
        mfull AS (SELECT qid, vec_id FROM (
            SELECT mq.qid, me.vec_id, row_number() OVER (PARTITION BY mq.qid
              ORDER BY list_sum(list_transform(list_zip(mq.qe, me.embedding),
                z -> (z[1]::DOUBLE - z[2]::DOUBLE)
                   * (z[1]::DOUBLE - z[2]::DOUBLE))), me.vec_id) AS rn
            FROM mq CROSS JOIN me)
          WHERE rn <= 5),
        mpre AS (SELECT qid, vec_id FROM (
            SELECT mq.qid, me.vec_id, row_number() OVER (PARTITION BY mq.qid
              ORDER BY list_sum(list_transform(
                list_zip(mq.qe[1:16], me.embedding[1:16]),
                z -> (z[1]::DOUBLE - z[2]::DOUBLE)
                   * (z[1]::DOUBLE - z[2]::DOUBLE))), me.vec_id) AS rn
            FROM mq CROSS JOIN me)
          WHERE rn <= 5),
        mh AS (SELECT f.qid, count(*) AS n FROM mfull f
          JOIN mpre p ON f.qid = p.qid AND f.vec_id = p.vec_id
          GROUP BY f.qid)
        SELECT mq.qid, CAST(coalesce(mh.n, 0) AS bigint) AS n_hits,
               coalesce(mh.n, 0) / 5.0 AS recall
        FROM mq LEFT JOIN mh ON mq.qid = mh.qid
        ORDER BY mq.qid""",

    // int8 twin: the p29 quantize rule, the per-element decode, and
    // both rankings recomputed.
    "p128_int8_recall" ->
      s"""WITH iq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
          WHERE vec_id % 50 = 0
            AND embedding IS NOT NULL AND len(embedding) >= 64),
        ie AS (SELECT vec_id, embedding,
            list_transform(embedding, x -> x::DOUBLE) AS v
          FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) >= 64),
        ib AS (SELECT vec_id, embedding, v, list_min(v) AS lo,
            CASE WHEN list_max(v) > list_min(v)
                 THEN (list_max(v) - list_min(v)) / 255.0 ELSE 1.0 END AS sc
          FROM ie),
        idq AS (SELECT vec_id,
            list_transform(v, x ->
              ((cast(round((x - lo) / sc) AS integer) - 128) + 128)
                * sc + lo) AS dv
          FROM ib),
        ifull AS (SELECT qid, vec_id FROM (
            SELECT iq.qid, ie.vec_id, row_number() OVER (PARTITION BY iq.qid
              ORDER BY list_sum(list_transform(list_zip(iq.qe, ie.embedding),
                z -> (z[1]::DOUBLE - z[2]::DOUBLE)
                   * (z[1]::DOUBLE - z[2]::DOUBLE))), ie.vec_id) AS rn
            FROM iq CROSS JOIN ie)
          WHERE rn <= 5),
        iapx AS (SELECT qid, vec_id FROM (
            SELECT iq.qid, d.vec_id, row_number() OVER (PARTITION BY iq.qid
              ORDER BY list_sum(list_transform(list_zip(d.dv, iq.qe),
                z -> (z[1] - z[2]::DOUBLE) * (z[1] - z[2]::DOUBLE))),
                d.vec_id) AS rn
            FROM iq CROSS JOIN idq d)
          WHERE rn <= 5),
        ih AS (SELECT f.qid, count(*) AS n FROM ifull f
          JOIN iapx p ON f.qid = p.qid AND f.vec_id = p.vec_id
          GROUP BY f.qid)
        SELECT iq.qid, CAST(coalesce(ih.n, 0) AS bigint) AS n_hits,
               coalesce(ih.n, 0) / 5.0 AS recall
        FROM iq LEFT JOIN ih ON iq.qid = ih.qid
        ORDER BY iq.qid""",

    // RRF twin: the p23 BM25 chain (same round-4 score and ranking),
    // the exact-L2 vector ranking against the fixed query vector, the
    // full-outer fusion with 1/(60+rank) terms, and the fused ranking.
    "p129_hybrid_rrf" ->
      s"""WITH t AS (SELECT doc_id, string_split($oNorm, ' ') AS toks
          FROM documents),
        st AS (SELECT count(*) AS n,
              sum(len(toks))::double / count(*) AS avgdl,
              sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END)
                AS df_spark,
              sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END)
                AS df_join,
              sum(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END)
                AS df_window
          FROM t),
        sc AS (SELECT doc_id, round(
              len(list_filter(toks, x -> x = 'spark'))::double * 2.2
                * ln(1 + (n - df_spark + 0.5) / (df_spark + 0.5))
                / (len(list_filter(toks, x -> x = 'spark'))::double
                   + 1.2 * (0.25 + 0.75 * len(toks)::double / avgdl))
            + len(list_filter(toks, x -> x = 'join'))::double * 2.2
                * ln(1 + (n - df_join + 0.5) / (df_join + 0.5))
                / (len(list_filter(toks, x -> x = 'join'))::double
                   + 1.2 * (0.25 + 0.75 * len(toks)::double / avgdl))
            + len(list_filter(toks, x -> x = 'window'))::double * 2.2
                * ln(1 + (n - df_window + 0.5) / (df_window + 0.5))
                / (len(list_filter(toks, x -> x = 'window'))::double
                   + 1.2 * (0.25 + 0.75 * len(toks)::double / avgdl)), 4)
              AS score
          FROM t, st),
        rt AS (SELECT doc_id, rk AS rk_txt FROM (
            SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
              AS rk
            FROM sc WHERE score > 0)
          WHERE rk <= 20),
        vq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        rv AS (SELECT doc_id, rk_vec FROM (
            SELECT e.vec_id AS doc_id, row_number() OVER (ORDER BY
              list_sum(list_transform(list_zip(e.embedding, vq.qe),
                z -> (z[1]::DOUBLE - z[2]::DOUBLE)
                   * (z[1]::DOUBLE - z[2]::DOUBLE))), e.vec_id) AS rk_vec
            FROM embeddings e CROSS JOIN vq
            WHERE e.embedding IS NOT NULL AND len(e.embedding) >= 64)
          WHERE rk_vec <= 20),
        fu AS (SELECT coalesce(rt.doc_id, rv.doc_id) AS doc_id,
            rt.rk_txt, rv.rk_vec,
            coalesce(1.0 / (60.0 + rt.rk_txt), 0.0)
              + coalesce(1.0 / (60.0 + rv.rk_vec), 0.0) AS rrf0
          FROM rt FULL OUTER JOIN rv ON rt.doc_id = rv.doc_id),
        fr AS (SELECT doc_id, rrf0, rk_txt, rk_vec,
            row_number() OVER (ORDER BY rrf0 DESC, doc_id) AS rk
          FROM fu)
        SELECT doc_id, round(rrf0, 6) AS rrf,
               CAST(coalesce(rk_txt, 0) AS integer) AS rk_txt,
               CAST(coalesce(rk_vec, 0) AS integer) AS rk_vec,
               CAST(rk AS bigint) AS rk
        FROM fr WHERE rk <= 10 ORDER BY rk""",

    // Incremental-SemDeDup twin: the planted batch re-derived, every
    // assignment recomputed against the trained final snapshot, the
    // corpus-beats-batch and smaller-batch-id rules replayed.
    "p130_incremental_semantic_dedup" ->
      s"""WITH ${oKmCtes(KmIters)},
        nd0 AS (SELECT vec_id, embedding[:64] AS v FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) >= 64),
        ndb AS MATERIALIZED (
          SELECT vec_id + 1000000 AS vec_id, v FROM nd0 WHERE vec_id % 10 = 3
          UNION ALL
          SELECT vec_id + 2000000, [0.5::FLOAT] || v[2:]
          FROM nd0 WHERE vec_id % 20 = 7
          UNION ALL
          SELECT vec_id + 3000000,
                 list_transform(range(0, 8), x -> 0.9::FLOAT) || v[9:]
          FROM nd0 WHERE vec_id % 25 = 11),
        ndall AS MATERIALIZED (
          SELECT vec_id, v, 0 AS is_b FROM nd0
          UNION ALL SELECT vec_id, v, 1 FROM ndb),
        ndd AS MATERIALIZED (SELECT a.vec_id, a.is_b, c.cell,
            list_sum(list_transform(list_zip(a.v, c.cv),
              z -> (z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]))) AS d2
          FROM ndall a CROSS JOIN kmcarr$KmIters c),
        nda AS MATERIALIZED (SELECT vec_id, is_b, cell FROM
            (SELECT vec_id, is_b, cell, row_number() OVER
                (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM ndd)
          WHERE rn = 1),
        nddup AS (SELECT x.vec_id FROM nda x
          JOIN nda y ON x.cell = y.cell
            AND (y.is_b = 0 OR y.vec_id < x.vec_id)
          JOIN ndall xv ON xv.vec_id = x.vec_id
          JOIN ndall yv ON yv.vec_id = y.vec_id
          WHERE x.is_b = 1
            AND list_sum(list_transform(list_zip(xv.v, yv.v),
              z -> (z[1]::DOUBLE - z[2]::DOUBLE)
                 * (z[1]::DOUBLE - z[2]::DOUBLE))) <= 1.0
          GROUP BY x.vec_id)
        SELECT a.vec_id, CAST(a.cell AS bigint) AS cell,
               (d.vec_id IS NULL) AS kept
        FROM nda a LEFT JOIN nddup d ON a.vec_id = d.vec_id
        WHERE a.is_b = 1 ORDER BY a.vec_id""",

    // Decile-mixture twin: trained scores re-derived, global rank and
    // integer decile replayed, the scrambled-key keep rule counted.
    "p131_quality_decile_mix" ->
      s"""WITH $oFtFeatCtes,
        wtab AS (SELECT f,
            ((sum(p) + 1) * 200) // (sum(p) + sum(1 - p) + 2) - 100 AS w
          FROM fidx JOIN flab USING (id) GROUP BY f),
        dsc AS (SELECT fx.id, CAST(sum(coalesce(w.w, 0)) AS bigint) AS score
          FROM fidx fx LEFT JOIN wtab w ON fx.f = w.f GROUP BY fx.id),
        dall AS (SELECT d.doc_id, coalesce(dsc.score, 0) AS score
          FROM documents d LEFT JOIN dsc ON d.doc_id = dsc.id),
        drk AS (SELECT doc_id, score,
            row_number() OVER (ORDER BY score DESC, doc_id) AS rnk,
            count(*) OVER () AS n
          FROM dall),
        ddec AS (SELECT doc_id, score,
            ((rnk - 1) * 10) // n AS decile FROM drk)
        SELECT CAST(decile AS integer) AS decile, count(*) AS n_docs,
               CAST(sum(CASE WHEN (doc_id * 2654435761) % 100
                   < 100 - 9 * decile THEN 1 ELSE 0 END) AS bigint)
                 AS n_kept,
               CAST(min(score) AS bigint) AS min_score,
               CAST(max(score) AS bigint) AS max_score
        FROM ddec GROUP BY decile ORDER BY decile""",

    // Stream-ingest twin: the planted coarse argmin and the packed PQ
    // code recomputed closed-form over the file — batch semantics; the
    // stream must be invisible.
    "p132_stream_vector_ingest" ->
      s"""WITH $oPqCodeCtes,
        svc AS (SELECT vec_id,
            list_transform(range(0, 16), l ->
              list_sum(list_transform(
                list_transform(range(0, 64), j ->
                  embedding[j + 1]::DOUBLE
                    - (((l*17 + j*23) % 37 - 18) / 18.0)),
                x -> x * x))) AS dl
          FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) >= 64),
        svcell AS (SELECT vec_id,
            list_position(dl, list_min(dl)) - 1 AS cell FROM svc)
        SELECT p.vec_id, CAST(c.cell AS integer) AS cell,
               CAST(p.pq_code AS bigint) AS pq_code
        FROM pqagg p JOIN svcell c ON p.vec_id = c.vec_id
        ORDER BY p.vec_id""",

    // Decontamination twin: planted contamination re-derived, every
    // assignment recomputed, the one-sided eval-vs-train rule replayed.
    "p133_semantic_decontamination" ->
      s"""WITH ${oKmCtes(KmIters)},
        dc0 AS (SELECT vec_id, embedding[:64] AS v FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) >= 64),
        dcev AS MATERIALIZED (SELECT vec_id, v FROM dc0
          WHERE vec_id % 50 = 0),
        dctr AS MATERIALIZED (
          SELECT vec_id, v FROM dc0 WHERE vec_id % 50 <> 0
          UNION ALL SELECT vec_id + 4000000, v FROM dcev
          UNION ALL SELECT vec_id + 5000000, [0.5::FLOAT] || v[2:]
          FROM dcev),
        dcall AS MATERIALIZED (
          SELECT vec_id, v, 0 AS is_t FROM dcev
          UNION ALL SELECT vec_id, v, 1 FROM dctr),
        dcd AS MATERIALIZED (SELECT a.vec_id, a.is_t, c.cell,
            list_sum(list_transform(list_zip(a.v, c.cv),
              z -> (z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]))) AS d2
          FROM dcall a CROSS JOIN kmcarr$KmIters c),
        dca AS MATERIALIZED (SELECT vec_id, is_t, cell FROM
            (SELECT vec_id, is_t, cell, row_number() OVER
                (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM dcd)
          WHERE rn = 1),
        dchit AS (SELECT x.vec_id FROM dca x
          JOIN dca y ON x.cell = y.cell AND y.is_t = 0
          JOIN dcall xv ON xv.vec_id = x.vec_id
          JOIN dcall yv ON yv.vec_id = y.vec_id
          WHERE x.is_t = 1
            AND list_sum(list_transform(list_zip(xv.v, yv.v),
              z -> (z[1]::DOUBLE - z[2]::DOUBLE)
                 * (z[1]::DOUBLE - z[2]::DOUBLE))) <= 1.0
          GROUP BY x.vec_id)
        SELECT a.vec_id, CAST(a.cell AS bigint) AS cell,
               (h.vec_id IS NULL) AS kept
        FROM dca a LEFT JOIN dchit h ON a.vec_id = h.vec_id
        WHERE a.is_t = 1 ORDER BY a.vec_id""",

    // Sequential-admission twin: both internal dedups and the
    // batch-vs-corpus admission rule replayed over the trained-cell
    // assignments.
    "p134_sequential_vector_admit" ->
      s"""WITH ${oKmCtes(KmIters)},
        sv0 AS (SELECT vec_id, embedding[:64] AS v FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) >= 64),
        svb0 AS MATERIALIZED (SELECT vec_id, v FROM sv0
          WHERE vec_id % 2 = 0),
        svb1 AS MATERIALIZED (
          SELECT vec_id, v FROM sv0 WHERE vec_id % 2 = 1
          UNION ALL SELECT vec_id + 6000000, v FROM sv0
          WHERE vec_id % 10 = 4),
        svall AS MATERIALIZED (
          SELECT vec_id, v, 0 AS b FROM svb0
          UNION ALL SELECT vec_id, v, 1 FROM svb1),
        svd AS MATERIALIZED (SELECT a.vec_id, a.b, c.cell,
            list_sum(list_transform(list_zip(a.v, c.cv),
              z -> (z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]))) AS d2
          FROM svall a CROSS JOIN kmcarr$KmIters c),
        sva AS MATERIALIZED (SELECT vec_id, b, cell FROM
            (SELECT vec_id, b, cell, row_number() OVER
                (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM svd)
          WHERE rn = 1),
        b0dup AS (SELECT x.vec_id FROM sva x
          JOIN sva y ON x.cell = y.cell AND y.b = 0
            AND y.vec_id < x.vec_id
          JOIN svall xv ON xv.vec_id = x.vec_id
          JOIN svall yv ON yv.vec_id = y.vec_id
          WHERE x.b = 0
            AND list_sum(list_transform(list_zip(xv.v, yv.v),
              z -> (z[1]::DOUBLE - z[2]::DOUBLE)
                 * (z[1]::DOUBLE - z[2]::DOUBLE))) <= 1.0
          GROUP BY x.vec_id),
        b0k AS MATERIALIZED (SELECT a.vec_id, a.cell FROM sva a
          LEFT JOIN b0dup d ON a.vec_id = d.vec_id
          WHERE a.b = 0 AND d.vec_id IS NULL),
        b1dup AS (SELECT x.vec_id FROM sva x
          JOIN sva y ON x.cell = y.cell AND y.b = 1
            AND y.vec_id < x.vec_id
          JOIN svall xv ON xv.vec_id = x.vec_id
          JOIN svall yv ON yv.vec_id = y.vec_id
          WHERE x.b = 1
            AND list_sum(list_transform(list_zip(xv.v, yv.v),
              z -> (z[1]::DOUBLE - z[2]::DOUBLE)
                 * (z[1]::DOUBLE - z[2]::DOUBLE))) <= 1.0
          GROUP BY x.vec_id),
        b1k AS MATERIALIZED (SELECT a.vec_id, a.cell FROM sva a
          LEFT JOIN b1dup d ON a.vec_id = d.vec_id
          WHERE a.b = 1 AND d.vec_id IS NULL),
        b1hit AS (SELECT x.vec_id FROM b1k x
          JOIN b0k y ON x.cell = y.cell
          JOIN svall xv ON xv.vec_id = x.vec_id
          JOIN svall yv ON yv.vec_id = y.vec_id
          WHERE list_sum(list_transform(list_zip(xv.v, yv.v),
              z -> (z[1]::DOUBLE - z[2]::DOUBLE)
                 * (z[1]::DOUBLE - z[2]::DOUBLE))) <= 1.0
          GROUP BY x.vec_id)
        SELECT vec_id, CAST(cell AS bigint) AS cell, 0 AS batch FROM b0k
        UNION ALL
        SELECT k.vec_id, CAST(k.cell AS bigint) AS cell, 1 AS batch
        FROM b1k k LEFT JOIN b1hit h ON k.vec_id = h.vec_id
        WHERE h.vec_id IS NULL
        ORDER BY vec_id""",

    // Sampled-train twin: the full Lloyd replay (seeds, assignments,
    // decimal means, empty-cell carry) over the SAME deterministic
    // hash-sample predicate the engine trains on.
    "p135_kmeans_sampled_train" ->
      s"""WITH ${oKmCtes(KmIters, SampledTrainSql)}
        SELECT CAST(iter AS bigint) AS iter, CAST(cell AS bigint) AS cell,
               CAST(dim AS bigint) AS dim_idx, cval
        FROM (SELECT * FROM kmc0 UNION ALL SELECT * FROM kmc1
              UNION ALL SELECT * FROM kmc2 UNION ALL SELECT * FROM kmc3)
        ORDER BY iter, cell, dim_idx""",

    // Sampled-PQ twin: per-subspace training replayed over the sample,
    // then the FULL corpus assigned against the final snapshot (the
    // oPtCtes src/assignSrc split) — packed codes and m-ascending
    // reconstruction errors recomputed arithmetically.
    "p136_pq_sampled_encode" ->
      s"""WITH ${oPtCtes(KmIters, SampledTrainSql, "embeddings")},
        pscode AS (SELECT vec_id,
            CAST(sum(CAST(code AS bigint) << (4 * m)) AS bigint) AS pq_code
          FROM ptbest GROUP BY vec_id),
        pserr AS (SELECT vec_id, list_sum(list(md ORDER BY m)) AS err
          FROM (SELECT vec_id, m, min(d2) AS md
                FROM ptdF GROUP BY vec_id, m)
          GROUP BY vec_id)
        SELECT c.vec_id, c.pq_code, round(e.err, 6) AS rec_err
        FROM pscode c JOIN pserr e USING (vec_id)
        ORDER BY c.vec_id""",

    // Multi-probe SemDeDup twin: the planted re-ingest, every distance,
    // the TOP-2 argmin expansion (row_number <= 2) on the probe side,
    // home cells on the comparison side, keep-smallest-id replayed.
    "p137_semantic_dedup_multiprobe" ->
      s"""WITH ${oKmCtes(KmIters)},
        mp0 AS (SELECT vec_id, embedding[:64] AS v FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) >= 64),
        mpall AS MATERIALIZED (
          SELECT vec_id, v FROM mp0
          UNION ALL
          SELECT vec_id + 1000000, v FROM mp0 WHERE vec_id % 10 = 3
          UNION ALL
          SELECT vec_id + 2000000,
                 [0.5::FLOAT] || v[2:] FROM mp0 WHERE vec_id % 20 = 7),
        mpd AS MATERIALIZED (SELECT a.vec_id, c.cell,
            list_sum(list_transform(list_zip(a.v, c.cv),
              z -> (z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]))) AS d2
          FROM mpall a CROSS JOIN kmcarr$KmIters c),
        mpr AS MATERIALIZED (SELECT vec_id, cell,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, cell) AS rn
          FROM mpd),
        mph AS MATERIALIZED (SELECT vec_id, cell FROM mpr WHERE rn = 1),
        mpdup AS (SELECT x.vec_id FROM (SELECT vec_id, cell FROM mpr
            WHERE rn <= 2) x
          JOIN mph y ON x.cell = y.cell AND y.vec_id < x.vec_id
          JOIN mpall xv ON xv.vec_id = x.vec_id
          JOIN mpall yv ON yv.vec_id = y.vec_id
          WHERE list_sum(list_transform(list_zip(xv.v, yv.v),
              z -> (z[1]::DOUBLE - z[2]::DOUBLE)
                 * (z[1]::DOUBLE - z[2]::DOUBLE))) <= 1.0
          GROUP BY x.vec_id)
        SELECT h.vec_id, CAST(h.cell AS bigint) AS cell,
               (d.vec_id IS NULL) AS kept
        FROM mph h LEFT JOIN mpdup d ON h.vec_id = d.vec_id
        ORDER BY h.vec_id""",

    // Multi-probe refresh twin: batch side expanded to its top-2
    // trained cells, corpus and within-batch comparanda at home cells,
    // corpus-beats-batch and smaller-batch-id rules replayed.
    "p138_incremental_multiprobe_dedup" ->
      s"""WITH ${oKmCtes(KmIters)},
        mq0 AS (SELECT vec_id, embedding[:64] AS v FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) >= 64),
        mqb AS MATERIALIZED (
          SELECT vec_id + 1000000 AS vec_id, v FROM mq0 WHERE vec_id % 10 = 3
          UNION ALL
          SELECT vec_id + 2000000, [0.5::FLOAT] || v[2:]
          FROM mq0 WHERE vec_id % 20 = 7
          UNION ALL
          SELECT vec_id + 3000000,
                 list_transform(range(0, 8), x -> 0.9::FLOAT) || v[9:]
          FROM mq0 WHERE vec_id % 25 = 11),
        mqall AS MATERIALIZED (
          SELECT vec_id, v, 0 AS is_b FROM mq0
          UNION ALL SELECT vec_id, v, 1 FROM mqb),
        mqd AS MATERIALIZED (SELECT a.vec_id, a.is_b, c.cell,
            list_sum(list_transform(list_zip(a.v, c.cv),
              z -> (z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]))) AS d2
          FROM mqall a CROSS JOIN kmcarr$KmIters c),
        mqr AS MATERIALIZED (SELECT vec_id, is_b, cell,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, cell) AS rn
          FROM mqd),
        mqh AS MATERIALIZED (SELECT vec_id, is_b, cell FROM mqr
          WHERE rn = 1),
        mqdup AS (SELECT x.vec_id FROM (SELECT vec_id, cell FROM mqr
            WHERE is_b = 1 AND rn <= 2) x
          JOIN mqh y ON x.cell = y.cell
            AND (y.is_b = 0 OR y.vec_id < x.vec_id)
          JOIN mqall xv ON xv.vec_id = x.vec_id
          JOIN mqall yv ON yv.vec_id = y.vec_id
          WHERE list_sum(list_transform(list_zip(xv.v, yv.v),
              z -> (z[1]::DOUBLE - z[2]::DOUBLE)
                 * (z[1]::DOUBLE - z[2]::DOUBLE))) <= 1.0
          GROUP BY x.vec_id)
        SELECT h.vec_id, CAST(h.cell AS bigint) AS cell,
               (d.vec_id IS NULL) AS kept
        FROM mqh h LEFT JOIN mqdup d ON h.vec_id = d.vec_id
        WHERE h.is_b = 1 ORDER BY h.vec_id""",

    // Rebuild twin: the from-scratch fully-trained index over the
    // DRIFTED relation — both retrainings replayed (oKmCtes/oPtCtes
    // src = the drifted subquery), cells, codes, probes, and every ADC
    // distance recomputed — with no knowledge of the old index, the
    // landing directory, or the swap.
    "p139_index_rebuild_swap" ->
      s"""WITH ${oPtCtes(KmIters, DriftedSql)}, ${oKmCtes(KmIters, DriftedSql)},
        rbcell AS (SELECT vec_id, cell FROM
            (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
                ORDER BY d2, cell) AS rn FROM kmdF)
          WHERE rn = 1),
        rbq AS (SELECT vec_id AS qid, cell,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, cell) AS pr
          FROM kmdF WHERE vec_id % 50 = 0),
        rbcand AS (SELECT p.qid, c.vec_id
          FROM (SELECT qid, cell FROM rbq WHERE pr <= 4) p
          JOIN rbcell c ON p.cell = c.cell),
        rbdm AS (SELECT cd.qid, cd.vec_id, b.m,
            list_sum(list_transform(range(0, 8), j ->
              (q.embedding[b.m*8 + j + 1]::DOUBLE - a.cv[j + 1])
                * (q.embedding[b.m*8 + j + 1]::DOUBLE - a.cv[j + 1]))) AS d
          FROM rbcand cd
          JOIN kmasrc q ON q.vec_id = cd.qid
          JOIN ptbest b ON cd.vec_id = b.vec_id
          JOIN ptarr$KmIters a ON a.m = b.m AND a.cell = b.code),
        rbadc AS (SELECT qid, vec_id,
            list_sum(list(d ORDER BY m)) AS adc
          FROM rbdm GROUP BY qid, vec_id),
        rbr AS (SELECT qid, vec_id, adc,
            row_number() OVER (PARTITION BY qid
                               ORDER BY adc, vec_id) AS rn
          FROM rbadc)
        SELECT qid, vec_id, rn, round(adc, 6) AS adc
        FROM rbr WHERE rn <= 5 ORDER BY qid, rn""",

    // Deletion-propagation twin: from-scratch recursive CC over the
    // SURVIVING subgraph (the p92 corpus-half planted rule minus every
    // id = 2 mod 9) — bounded-work label repair must equal the full
    // rebuild.
    "p140_deletion_propagation" ->
      s"""WITH RECURSIVE delall AS (
          SELECT doc_id AS id, doc_id AS src FROM documents
          UNION ALL
          SELECT doc_id + $CopyIdOffset AS id, doc_id AS src FROM documents
          WHERE doc_id % 5 = 0),
        allids AS (SELECT id, src FROM delall WHERE id % 9 <> 2),
        ${oDhashCtes(oPixelFp)},
        pr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM words a JOIN words b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        e AS (SELECT id_a AS s, id_b AS d FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
        rec AS (
          SELECT id, id AS reach FROM allids
          UNION
          SELECT e.s, rec.reach FROM e JOIN rec ON e.d = rec.id)
        SELECT id, min(reach) AS cluster_id
        FROM rec GROUP BY id ORDER BY id""",

    // Index-deletion twin: p121's from-scratch fully-trained replay
    // with the delete predicate applied to candidates AND the panel;
    // the trainings stay over the FULL corpus (models saw the deleted
    // rows — deletion scrubs entries, not weights).
    "p141_index_delete_serve" ->
      s"""WITH ${oPtCtes(KmIters)}, ${oKmCtes(KmIters)},
        dlcell AS (SELECT vec_id, cell FROM
            (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
                ORDER BY d2, cell) AS rn FROM kmdF)
          WHERE rn = 1),
        dlq AS (SELECT vec_id AS qid, cell,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, cell) AS pr
          FROM kmdF WHERE vec_id % 50 = 0 AND vec_id % 13 <> 5),
        dlcand AS (SELECT p.qid, c.vec_id
          FROM (SELECT qid, cell FROM dlq WHERE pr <= 4) p
          JOIN dlcell c ON p.cell = c.cell
          WHERE c.vec_id % 13 <> 5),
        dldm AS (SELECT cd.qid, cd.vec_id, b.m,
            list_sum(list_transform(range(0, 8), j ->
              (q.embedding[b.m*8 + j + 1]::DOUBLE - a.cv[j + 1])
                * (q.embedding[b.m*8 + j + 1]::DOUBLE - a.cv[j + 1]))) AS d
          FROM dlcand cd
          JOIN embeddings q ON q.vec_id = cd.qid
          JOIN ptbest b ON cd.vec_id = b.vec_id
          JOIN ptarr$KmIters a ON a.m = b.m AND a.cell = b.code),
        dladc AS (SELECT qid, vec_id,
            list_sum(list(d ORDER BY m)) AS adc
          FROM dldm GROUP BY qid, vec_id),
        dlr AS (SELECT qid, vec_id, adc,
            row_number() OVER (PARTITION BY qid
                               ORDER BY adc, vec_id) AS rn
          FROM dladc)
        SELECT qid, vec_id, rn, round(adc, 6) AS adc
        FROM dlr WHERE rn <= 5 ORDER BY qid, rn""",

    // Image–text pair twin: every figure, target id, decoded caption
    // (entity decode included), alt fallback, quality gate, and the
    // canonical-URL join outcome recomputed closed-form from the id
    // arithmetic — the oracle never parses a page or a URL; the Spark
    // side earns equality only if regex segmentation, htmlToText, and
    // canonicalize all land exactly.
    "p142_image_text_pairs" -> OImageTextPairsSql,

    // Streaming pair-extraction twin: IDENTICAL to p142's — the stream
    // must be answer-invisible (pages arriving as micro-batches with a
    // stream-static join against the landed media index produce exactly
    // the batch pairs).
    "p149_stream_pair_extract" -> OImageTextPairsSql,

    // Mixed-pair-router twin: the three modality pair twins unioned
    // with the PAGE-WIDE figure-index arithmetic of the all-figures
    // page — image slots at j, the audio figure at id%3, the video
    // figure at id%3 + id%2 (present only under each family's id
    // rule); per-modality caption/language/gate/join conventions
    // exactly as in p142/p145/p146.
    "p157_mixed_pair_router" ->
      s"""WITH pfa AS (SELECT doc_id AS id FROM documents),
        ifig AS (SELECT id, t.j AS j, (id - id % 4) + 4*t.j AS tgt
          FROM pfa, unnest(range(0, id % 3)) AS t(j)),
        icap AS (SELECT id, j, tgt,
            CASE WHEN (id + j) % 3 <> 2 AND (id + j) % 2 = 0
              THEN 'a planted photo & the caption of doc ' || tgt
                   || ' and slot ' || j
              WHEN (id + j) % 3 <> 2
              THEN 'le photo & la caption planted doc ' || tgt
                   || ' slot ' || j
              ELSE 'thumb' || tgt END AS caption
          FROM ifig),
        ilng AS (SELECT id, j, tgt, caption,
            CASE
              WHEN ' ' || caption || ' ' LIKE '% the %'
                OR ' ' || caption || ' ' LIKE '% and %' THEN 'en'
              WHEN ' ' || caption || ' ' LIKE '% le %'
                OR ' ' || caption || ' ' LIKE '% la %' THEN 'fr'
              WHEN ' ' || caption || ' ' LIKE '% der %'
                OR ' ' || caption || ' ' LIKE '% und %' THEN 'de'
              WHEN ' ' || caption || ' ' LIKE '% el %'
                OR ' ' || caption || ' ' LIKE '% los %' THEN 'es'
              ELSE 'unknown' END AS caption_lang
          FROM icap),
        mimg AS (SELECT doc_id AS tgt FROM documents WHERE doc_id % 4 = 0),
        irows AS (SELECT 'image' AS modality, c.id AS page_id,
            CAST(c.j AS integer) AS fig_idx,
            coalesce(i.tgt, -1) AS media_id, c.caption, c.caption_lang,
            CAST(len(string_split(c.caption, ' ')) AS integer)
              AS n_caption_words,
            len(string_split(c.caption, ' ')) >= 3 AS kept,
            i.tgt IS NOT NULL AS decoded
          FROM ilng c LEFT JOIN mimg i ON c.tgt = i.tgt),
        afa AS (SELECT doc_id AS id FROM documents WHERE doc_id % 2 = 1),
        acap AS (SELECT id, id - id % 6 + 6 AS tgt,
            CASE WHEN id % 5 <> 3 AND id % 4 = 1
              THEN 'a field recording & the clip ' || (id - id % 6 + 6)
                   || ' and take ' || id
              WHEN id % 5 <> 3
              THEN 'le enregistrement & la clip ' || (id - id % 6 + 6)
                   || ' take ' || id
              ELSE '' END AS caption
          FROM afa),
        alng AS (SELECT id, tgt, caption,
            CASE
              WHEN ' ' || caption || ' ' LIKE '% the %'
                OR ' ' || caption || ' ' LIKE '% and %' THEN 'en'
              WHEN ' ' || caption || ' ' LIKE '% le %'
                OR ' ' || caption || ' ' LIKE '% la %' THEN 'fr'
              WHEN ' ' || caption || ' ' LIKE '% der %'
                OR ' ' || caption || ' ' LIKE '% und %' THEN 'de'
              WHEN ' ' || caption || ' ' LIKE '% el %'
                OR ' ' || caption || ' ' LIKE '% los %' THEN 'es'
              ELSE 'unknown' END AS caption_lang,
            CASE WHEN caption = '' THEN 0
                 ELSE len(string_split(caption, ' ')) END AS nw
          FROM acap),
        maud AS (SELECT doc_id AS tgt FROM documents WHERE doc_id % 6 = 0),
        arows AS (SELECT 'audio' AS modality, c.id AS page_id,
            CAST(c.id % 3 AS integer) AS fig_idx,
            coalesce(a.tgt, -1) AS media_id, c.caption, c.caption_lang,
            CAST(c.nw AS integer) AS n_caption_words,
            c.nw >= 3 AS kept,
            a.tgt IS NOT NULL AS decoded
          FROM alng c LEFT JOIN maud a ON c.tgt = a.tgt),
        vfa AS (SELECT doc_id AS id FROM documents WHERE doc_id % 3 = 2),
        vcap AS (SELECT id, id - id % 5 + 5 AS tgt,
            CASE WHEN id % 7 <> 4 AND id % 4 < 2
              THEN 'der clip & ' || (id - id % 5 + 5)
                   || ' und take ' || id
              WHEN id % 7 <> 4
              THEN 'el video & ' || (id - id % 5 + 5)
                   || ' los frames ' || id
              ELSE '' END AS caption
          FROM vfa),
        vlng AS (SELECT id, tgt, caption,
            CASE
              WHEN ' ' || caption || ' ' LIKE '% the %'
                OR ' ' || caption || ' ' LIKE '% and %' THEN 'en'
              WHEN ' ' || caption || ' ' LIKE '% le %'
                OR ' ' || caption || ' ' LIKE '% la %' THEN 'fr'
              WHEN ' ' || caption || ' ' LIKE '% der %'
                OR ' ' || caption || ' ' LIKE '% und %' THEN 'de'
              WHEN ' ' || caption || ' ' LIKE '% el %'
                OR ' ' || caption || ' ' LIKE '% los %' THEN 'es'
              ELSE 'unknown' END AS caption_lang,
            CASE WHEN caption = '' THEN 0
                 ELSE len(string_split(caption, ' ')) END AS nw
          FROM vcap),
        mvid AS (SELECT doc_id AS tgt FROM documents WHERE doc_id % 5 = 0),
        vrows AS (SELECT 'video' AS modality, c.id AS page_id,
            CAST(c.id % 3 + c.id % 2 AS integer) AS fig_idx,
            coalesce(v.tgt, -1) AS media_id, c.caption, c.caption_lang,
            CAST(c.nw AS integer) AS n_caption_words,
            c.nw >= 3 AS kept,
            v.tgt IS NOT NULL AS decoded
          FROM vlng c LEFT JOIN mvid v ON c.tgt = v.tgt)
        SELECT * FROM (SELECT * FROM irows
          UNION ALL SELECT * FROM arows
          UNION ALL SELECT * FROM vrows)
        ORDER BY modality, page_id, fig_idx""",

    // Video-paired-capstone twin: the p146 pair CTEs (id%3==2 pages,
    // the next-clip-id target, the 3-word gate), the sampled-frame
    // majority-fold words under the (id/10)*10 copy rule, recursive CC
    // for the canonical clip, and the per-cluster caption pool.
    "p156_video_paired_capstone" ->
      s"""WITH RECURSIVE vids AS (
          SELECT doc_id AS id, (doc_id // 10) * 10 AS src FROM documents
          WHERE doc_id % 5 = 0),
        $oVhashCtes,
        vpr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM vwords a JOIN vwords b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        ve AS (SELECT id_a AS s, id_b AS d FROM vpr
               UNION ALL SELECT id_b, id_a FROM vpr),
        vrec AS (
          SELECT id, id AS reach FROM vids
          UNION
          SELECT ve.s, vrec.reach FROM ve JOIN vrec ON ve.d = vrec.id),
        vlab AS (SELECT id, min(reach) AS cluster_id FROM vrec GROUP BY id),
        vfa AS (SELECT doc_id AS id FROM documents WHERE doc_id % 3 = 2),
        vcap AS (SELECT id, id - id % 5 + 5 AS tgt,
            CASE WHEN id % 7 <> 4 AND id % 4 < 2
              THEN 'der clip & ' || (id - id % 5 + 5)
                   || ' und take ' || id
              WHEN id % 7 <> 4
              THEN 'el video & ' || (id - id % 5 + 5)
                   || ' los frames ' || id
              ELSE '' END AS caption
          FROM vfa),
        vpok AS (SELECT c.id, c.tgt, c.caption
          FROM vcap c JOIN vids v ON c.tgt = v.id
          WHERE c.caption <> ''
            AND len(string_split(c.caption, ' ')) >= 3)
        SELECT l.cluster_id AS canonical_clip, count(*) AS n_pairs,
               count(DISTINCT p.id) AS n_pages,
               min(p.caption) AS first_caption,
               CAST(l.cluster_id % 4 AS integer) AS shard
        FROM vpok p JOIN vlab l ON p.tgt = l.id
        GROUP BY l.cluster_id ORDER BY canonical_clip""",

    // Audio-paired-capstone twin: the p145 pair CTEs (odd pages, the
    // next-clip-id target, the 3-word gate over non-empty captions),
    // the fp-grade fingerprint words under the (id/12)*12 copy rule,
    // recursive CC for the canonical clip, and the per-cluster caption
    // pool — the whole AudioCaps chain recomputed without a parser or
    // a codec.
    "p155_audio_paired_capstone" ->
      s"""WITH RECURSIVE aids AS (
          SELECT doc_id AS id, (doc_id // 12) * 12 AS src FROM documents
          WHERE doc_id % 6 = 0),
        $oAfpFpCtes,
        apr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM fwords a JOIN fwords b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        ae AS (SELECT id_a AS s, id_b AS d FROM apr
               UNION ALL SELECT id_b, id_a FROM apr),
        arec AS (
          SELECT id, id AS reach FROM aids
          UNION
          SELECT ae.s, arec.reach FROM ae JOIN arec ON ae.d = arec.id),
        alab AS (SELECT id, min(reach) AS cluster_id FROM arec GROUP BY id),
        afa AS (SELECT doc_id AS id FROM documents WHERE doc_id % 2 = 1),
        acap AS (SELECT id, id - id % 6 + 6 AS tgt,
            CASE WHEN id % 5 <> 3 AND id % 4 = 1
              THEN 'a field recording & the clip ' || (id - id % 6 + 6)
                   || ' and take ' || id
              WHEN id % 5 <> 3
              THEN 'le enregistrement & la clip ' || (id - id % 6 + 6)
                   || ' take ' || id
              ELSE '' END AS caption
          FROM afa),
        pok AS (SELECT c.id, c.tgt, c.caption
          FROM acap c JOIN aids a ON c.tgt = a.id
          WHERE c.caption <> ''
            AND len(string_split(c.caption, ' ')) >= 3)
        SELECT l.cluster_id AS canonical_clip, count(*) AS n_pairs,
               count(DISTINCT p.id) AS n_pages,
               min(p.caption) AS first_caption,
               CAST(l.cluster_id % 4 AS integer) AS shard
        FROM pok p JOIN alab l ON p.tgt = l.id
        GROUP BY l.cluster_id ORDER BY canonical_clip""",

    // Pair-yield funnel twin: host = site(id%13).example.com, page
    // counts per host, then the pair CTEs rolled up per stage —
    // figures, resolved (tgt an existing image), caption-gated,
    // English — all from id arithmetic.
    "p154_pair_yield_funnel" ->
      s"""WITH pfa AS (SELECT doc_id AS id,
            'site' || (doc_id % 13) || '.example.com' AS host
          FROM documents),
        pfig AS (SELECT id, host, t.j AS j, (id - id % 4) + 4*t.j AS tgt
          FROM pfa, unnest(range(0, id % 3)) AS t(j)),
        pcap AS (SELECT id, host, j, tgt,
            CASE WHEN (id + j) % 3 <> 2 AND (id + j) % 2 = 0
              THEN 'a planted photo & the caption of doc ' || tgt
                   || ' and slot ' || j
              WHEN (id + j) % 3 <> 2
              THEN 'le photo & la caption planted doc ' || tgt
                   || ' slot ' || j
              ELSE 'thumb' || tgt END AS caption
          FROM pfig),
        pimg AS (SELECT doc_id AS tgt FROM documents WHERE doc_id % 4 = 0),
        pst AS (SELECT c.host,
            count(*) AS n_figures,
            sum(CASE WHEN i.tgt IS NOT NULL THEN 1 ELSE 0 END)
              AS n_resolved,
            sum(CASE WHEN i.tgt IS NOT NULL
                  AND len(string_split(c.caption, ' ')) >= 3
                THEN 1 ELSE 0 END) AS n_kept,
            sum(CASE WHEN i.tgt IS NOT NULL
                  AND len(string_split(c.caption, ' ')) >= 3
                  AND (' ' || c.caption || ' ' LIKE '% the %'
                    OR ' ' || c.caption || ' ' LIKE '% and %')
                THEN 1 ELSE 0 END) AS n_en
          FROM pcap c LEFT JOIN pimg i ON c.tgt = i.tgt
          GROUP BY c.host),
        pg AS (SELECT host, count(*) AS n_pages FROM pfa GROUP BY host)
        SELECT pg.host, cast(pg.n_pages AS bigint) AS n_pages,
               cast(coalesce(pst.n_figures, 0) AS bigint) AS n_figures,
               cast(coalesce(pst.n_resolved, 0) AS bigint) AS n_resolved,
               cast(coalesce(pst.n_kept, 0) AS bigint) AS n_kept,
               cast(coalesce(pst.n_en, 0) AS bigint) AS n_en
        FROM pg LEFT JOIN pst ON pg.host = pst.host
        ORDER BY pg.host""",

    // Pair-deletion twin: a FROM-SCRATCH rebuild over the survivors —
    // allids excludes the deleted images (id % 12 = 0), words + CC run
    // on the surviving set only, and the caption pools aggregate the
    // surviving resolved pairs; the incremental repair
    // (propagateDeletes) must match this exactly, including clusters
    // whose minimum was deleted (relabel) and whose bridge was deleted
    // (split).
    "p153_pair_deletion" ->
      s"""WITH RECURSIVE allids AS (
          SELECT doc_id AS id, (doc_id // 8) * 8 AS src FROM documents
          WHERE doc_id % 4 = 0 AND doc_id % 12 <> 0),
        ${oDhashCtes(oPixelFp)},
        cpr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM words a JOIN words b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        ce AS (SELECT id_a AS s, id_b AS d FROM cpr
               UNION ALL SELECT id_b, id_a FROM cpr),
        crec AS (
          SELECT id, id AS reach FROM allids
          UNION
          SELECT ce.s, crec.reach FROM ce JOIN crec ON ce.d = crec.id),
        clab AS (SELECT id, min(reach) AS cluster_id FROM crec GROUP BY id),
        pfa AS (SELECT doc_id AS id FROM documents),
        pfig AS (SELECT id, t.j AS j, (id - id % 4) + 4*t.j AS tgt
          FROM pfa, unnest(range(0, id % 3)) AS t(j)),
        pcap AS (SELECT id, j, tgt,
            CASE WHEN (id + j) % 3 <> 2 AND (id + j) % 2 = 0
              THEN 'a planted photo & the caption of doc ' || tgt
                   || ' and slot ' || j
              WHEN (id + j) % 3 <> 2
              THEN 'le photo & la caption planted doc ' || tgt
                   || ' slot ' || j
              ELSE 'thumb' || tgt END AS caption
          FROM pfig),
        pok AS (SELECT c.id, c.j, c.tgt, c.caption
          FROM pcap c JOIN allids i ON c.tgt = i.id
          WHERE len(string_split(c.caption, ' ')) >= 3)
        SELECT l.cluster_id AS canonical_image, count(*) AS n_pairs,
               count(DISTINCT p.id) AS n_pages,
               min(p.caption) AS first_caption,
               CAST(l.cluster_id % 4 AS integer) AS shard
        FROM pok p JOIN clab l ON p.tgt = l.id
        GROUP BY l.cluster_id ORDER BY canonical_image""",

    // Three-modality interleaved twin: kept text blocks via the
    // blockExtract CTEs over the plain page, then image items (id%3
    // slots), the audio item (odd ids), and the video item (id%3==2)
    // appended in document order — each content string the closed-form
    // page-side src; both video markup parities extract the same src.
    "p152_interleaved_multimodal" ->
      s"""$oHtmlCtes,
        $oBlockCtes,
        tx AS (SELECT id, cast(u.i AS bigint) AS pos, 'text' AS kind,
                 kept[cast(u.i AS integer) + 1].t AS content
               FROM k, unnest(range(0, len(kept))) AS u(i)),
        fgi AS (SELECT id, len(kept) + t.j AS pos, 'image' AS kind,
                 'https://site' || (((id - id % 4) + 4*t.j) % 13)
                   || '.example.com:443/media/img'
                   || ((id - id % 4) + 4*t.j) || '.png#thumb' AS content
               FROM k, unnest(range(0, id % 3)) AS t(j)),
        fga AS (SELECT id, len(kept) + (id % 3) AS pos, 'audio' AS kind,
                 'https://site' || ((id - id % 6 + 6) % 13)
                   || '.example.com:443/media/clip'
                   || (id - id % 6 + 6) || '.wav#t' AS content
               FROM k WHERE id % 2 = 1),
        fgv AS (SELECT id, len(kept) + (id % 3) + (id % 2) AS pos,
                 'video' AS kind,
                 'https://site' || ((id - id % 5 + 5) % 13)
                   || '.example.com:443/media/anim'
                   || (id - id % 5 + 5) || '.gif#t' || id AS content
               FROM k WHERE id % 3 = 2)
        SELECT id AS page_id, cast(pos AS integer) AS seq_idx, kind,
               content,
               CASE WHEN kind = 'text'
                 THEN cast(len(string_split(content, ' ')) AS integer)
                 ELSE 0 END AS n_words
        FROM (SELECT * FROM tx UNION ALL SELECT * FROM fgi
              UNION ALL SELECT * FROM fga UNION ALL SELECT * FROM fgv)
        ORDER BY page_id, seq_idx""",

    // Pair-mixture twin: the pair CTEs (kept+resolved only), per-lang
    // counts, the p44 sqrt-reweighting arithmetic (6-decimal keep
    // fractions, IEEE-exact sqrt in both engines), the hash cutoff
    // over the minted pair id.
    "p151_pair_language_mixture" ->
      s"""WITH pfa AS (SELECT doc_id AS id FROM documents),
        pfig AS (SELECT id, t.j AS j, (id - id % 4) + 4*t.j AS tgt
          FROM pfa, unnest(range(0, id % 3)) AS t(j)),
        pcap AS (SELECT id, j, tgt,
            CASE WHEN (id + j) % 3 <> 2 AND (id + j) % 2 = 0
              THEN 'a planted photo & the caption of doc ' || tgt
                   || ' and slot ' || j
              WHEN (id + j) % 3 <> 2
              THEN 'le photo & la caption planted doc ' || tgt
                   || ' slot ' || j
              ELSE 'thumb' || tgt END AS caption
          FROM pfig),
        plng AS (SELECT id, j, tgt, caption,
            CASE
              WHEN ' ' || caption || ' ' LIKE '% the %'
                OR ' ' || caption || ' ' LIKE '% and %' THEN 'en'
              WHEN ' ' || caption || ' ' LIKE '% le %'
                OR ' ' || caption || ' ' LIKE '% la %' THEN 'fr'
              WHEN ' ' || caption || ' ' LIKE '% der %'
                OR ' ' || caption || ' ' LIKE '% und %' THEN 'de'
              WHEN ' ' || caption || ' ' LIKE '% el %'
                OR ' ' || caption || ' ' LIKE '% los %' THEN 'es'
              ELSE 'unknown' END AS caption_lang
          FROM pcap),
        pimg AS (SELECT doc_id AS tgt FROM documents WHERE doc_id % 4 = 0),
        pp AS (SELECT c.id*4 + c.j AS pair_id, c.id AS page_id,
                 CAST(c.j AS integer) AS fig_idx, i.tgt AS image_id,
                 c.caption_lang
          FROM plng c JOIN pimg i ON c.tgt = i.tgt
          WHERE len(string_split(c.caption, ' ')) >= 3),
        cnt AS (SELECT caption_lang, count(*)::double AS n
                FROM pp GROUP BY caption_lang),
        sden AS (SELECT sum(sqrt(n)) AS denom FROM cnt),
        fk AS (SELECT caption_lang,
                 round(least(1.0, 120 * (sqrt(n) / denom) / n) * 1000000)
                   / 1000000 AS keep
               FROM cnt, sden)
        SELECT pp.pair_id, pp.page_id, pp.fig_idx, pp.image_id,
               pp.caption_lang
        FROM pp JOIN fk ON pp.caption_lang = fk.caption_lang
        WHERE ((pp.pair_id % 4294967296) * 1103515245) % 4294967296 <
              cast(trunc(fk.keep * 4294967296.0) AS bigint)
        ORDER BY pp.pair_id""",

    // Hard-negative twin: dhash words under the (id/8)*8 copy rule,
    // recursive CC, probe panel id%64=0, candidates = every decoded
    // image outside the probe's cluster, dist = the 4-band hamming sum
    // (equals the full 64-bit popcount), rank by (dist, id), top 3.
    "p150_hard_negatives" ->
      s"""WITH RECURSIVE allids AS (
          SELECT doc_id AS id, (doc_id // 8) * 8 AS src FROM documents
          WHERE doc_id % 4 = 0),
        ${oDhashCtes(oPixelFp)},
        cpr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM words a JOIN words b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        ce AS (SELECT id_a AS s, id_b AS d FROM cpr
               UNION ALL SELECT id_b, id_a FROM cpr),
        crec AS (
          SELECT id, id AS reach FROM allids
          UNION
          SELECT ce.s, crec.reach FROM ce JOIN crec ON ce.d = crec.id),
        clab AS (SELECT id, min(reach) AS cluster_id FROM crec GROUP BY id),
        hw AS (SELECT w.id, w.b0, w.b1, w.b2, w.b3, l.cluster_id
          FROM words w JOIN clab l ON w.id = l.id),
        pb AS (SELECT * FROM hw WHERE id % 64 = 0),
        cd AS (SELECT p.id AS probe_id, c.id AS negative_id,
            bit_count(xor(p.b0, c.b0)) + bit_count(xor(p.b1, c.b1))
              + bit_count(xor(p.b2, c.b2)) + bit_count(xor(p.b3, c.b3))
              AS dist
          FROM pb p JOIN hw c ON c.id <> p.id
            AND c.cluster_id <> p.cluster_id),
        r AS (SELECT probe_id, negative_id, dist,
            row_number() OVER (PARTITION BY probe_id
                               ORDER BY dist, negative_id) AS rn
          FROM cd)
        SELECT probe_id, negative_id, CAST(rn AS integer) AS rn,
               CAST(dist AS integer) AS dist
        FROM r WHERE rn <= 3 ORDER BY probe_id, rn""",

    // Paired-capstone twin: the planted pairs (gated, resolved), the
    // dHash words of every crawl image under the (id/8)*8 copy rule,
    // recursive CC for the canonical image, and the per-cluster caption
    // aggregation — the whole LAION chain recomputed without a parser
    // or a codec.
    "p143_paired_crawl_capstone" ->
      s"""WITH RECURSIVE allids AS (
          SELECT doc_id AS id, (doc_id // 8) * 8 AS src FROM documents
          WHERE doc_id % 4 = 0),
        ${oDhashCtes(oPixelFp)},
        cpr AS (SELECT a.id AS id_a, b.id AS id_b
          FROM words a JOIN words b ON a.id < b.id
          WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3),
        ce AS (SELECT id_a AS s, id_b AS d FROM cpr
               UNION ALL SELECT id_b, id_a FROM cpr),
        crec AS (
          SELECT id, id AS reach FROM allids
          UNION
          SELECT ce.s, crec.reach FROM ce JOIN crec ON ce.d = crec.id),
        clab AS (SELECT id, min(reach) AS cluster_id FROM crec GROUP BY id),
        pfa AS (SELECT doc_id AS id FROM documents),
        pfig AS (SELECT id, t.j AS j, (id - id % 4) + 4*t.j AS tgt
          FROM pfa, unnest(range(0, id % 3)) AS t(j)),
        pcap AS (SELECT id, j, tgt,
            CASE WHEN (id + j) % 3 <> 2 AND (id + j) % 2 = 0
              THEN 'a planted photo & the caption of doc ' || tgt
                   || ' and slot ' || j
              WHEN (id + j) % 3 <> 2
              THEN 'le photo & la caption planted doc ' || tgt
                   || ' slot ' || j
              ELSE 'thumb' || tgt END AS caption
          FROM pfig),
        pok AS (SELECT c.id, c.j, c.tgt, c.caption
          FROM pcap c JOIN allids i ON c.tgt = i.id
          WHERE len(string_split(c.caption, ' ')) >= 3
            AND (' ' || c.caption || ' ' LIKE '% the %'
              OR ' ' || c.caption || ' ' LIKE '% and %'))
        SELECT l.cluster_id AS canonical_image, count(*) AS n_pairs,
               count(DISTINCT p.id) AS n_pages,
               min(p.caption) AS first_caption,
               CAST(l.cluster_id % 4 AS integer) AS shard
        FROM pok p JOIN clab l ON p.tgt = l.id
        GROUP BY l.cluster_id ORDER BY canonical_image""",

    // Multi-probe decontamination twin: p133's planted contamination,
    // the training side's top-2 argmin expansion, home-cell eval rows,
    // the one-sided rule replayed.
    "p144_decontamination_multiprobe" ->
      s"""WITH ${oKmCtes(KmIters)},
        md0 AS (SELECT vec_id, embedding[:64] AS v FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) >= 64),
        mdev AS MATERIALIZED (SELECT vec_id, v FROM md0
          WHERE vec_id % 50 = 0),
        mdtr AS MATERIALIZED (
          SELECT vec_id, v FROM md0 WHERE vec_id % 50 <> 0
          UNION ALL SELECT vec_id + 4000000, v FROM mdev
          UNION ALL SELECT vec_id + 5000000, [0.5::FLOAT] || v[2:]
          FROM mdev),
        mdall AS MATERIALIZED (
          SELECT vec_id, v, 0 AS is_t FROM mdev
          UNION ALL SELECT vec_id, v, 1 FROM mdtr),
        mdd AS MATERIALIZED (SELECT a.vec_id, a.is_t, c.cell,
            list_sum(list_transform(list_zip(a.v, c.cv),
              z -> (z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]))) AS d2
          FROM mdall a CROSS JOIN kmcarr$KmIters c),
        mdr AS MATERIALIZED (SELECT vec_id, is_t, cell,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2, cell) AS rn
          FROM mdd),
        mdh AS MATERIALIZED (SELECT vec_id, is_t, cell FROM mdr
          WHERE rn = 1),
        mdhit AS (SELECT x.vec_id FROM (SELECT vec_id, cell FROM mdr
            WHERE is_t = 1 AND rn <= 2) x
          JOIN mdh y ON x.cell = y.cell AND y.is_t = 0
          JOIN mdall xv ON xv.vec_id = x.vec_id AND xv.is_t = 1
          JOIN mdall yv ON yv.vec_id = y.vec_id AND yv.is_t = 0
          WHERE list_sum(list_transform(list_zip(xv.v, yv.v),
              z -> (z[1]::DOUBLE - z[2]::DOUBLE)
                 * (z[1]::DOUBLE - z[2]::DOUBLE))) <= 1.0
          GROUP BY x.vec_id)
        SELECT h.vec_id, CAST(h.cell AS bigint) AS cell,
               (d.vec_id IS NULL) AS kept
        FROM mdh h LEFT JOIN mdhit d ON h.vec_id = d.vec_id
        WHERE h.is_t = 1 ORDER BY h.vec_id""",

    // Audio–text pair twin: odd-page figures, the next-audio-id target,
    // both caption languages, the empty no-figcaption caption (audio
    // has no alt fallback), the language rule, the gate, and the
    // canonical-URL join outcome — all closed-form in id arithmetic.
    "p145_audio_text_pairs" ->
      s"""WITH afa AS (SELECT doc_id AS id FROM documents
          WHERE doc_id % 2 = 1),
        acap AS (SELECT id, id - id % 6 + 6 AS tgt,
            CASE WHEN id % 5 <> 3 AND id % 4 = 1
              THEN 'a field recording & the clip ' || (id - id % 6 + 6)
                   || ' and take ' || id
              WHEN id % 5 <> 3
              THEN 'le enregistrement & la clip ' || (id - id % 6 + 6)
                   || ' take ' || id
              ELSE '' END AS caption
          FROM afa),
        alng AS (SELECT id, tgt, caption,
            CASE
              WHEN ' ' || caption || ' ' LIKE '% the %'
                OR ' ' || caption || ' ' LIKE '% and %' THEN 'en'
              WHEN ' ' || caption || ' ' LIKE '% le %'
                OR ' ' || caption || ' ' LIKE '% la %' THEN 'fr'
              WHEN ' ' || caption || ' ' LIKE '% der %'
                OR ' ' || caption || ' ' LIKE '% und %' THEN 'de'
              WHEN ' ' || caption || ' ' LIKE '% el %'
                OR ' ' || caption || ' ' LIKE '% los %' THEN 'es'
              ELSE 'unknown' END AS caption_lang,
            CASE WHEN caption = '' THEN 0
                 ELSE len(string_split(caption, ' ')) END AS nw
          FROM acap),
        aud AS (SELECT doc_id AS tgt FROM documents WHERE doc_id % 6 = 0)
        SELECT c.id AS page_id, CAST(0 AS integer) AS fig_idx,
               coalesce(a.tgt, -1) AS audio_id, c.caption, c.caption_lang,
               CAST(c.nw AS integer) AS n_caption_words,
               c.nw >= 3 AS kept,
               a.tgt IS NOT NULL AS decoded
        FROM alng c LEFT JOIN aud a ON c.tgt = a.tgt
        ORDER BY page_id, fig_idx""",

    // Video–text pair twin: id%3==2 page figures, the next-video-id
    // target, the de/es caption languages, the empty no-figcaption
    // caption (video has no alt fallback), the language rule, the gate,
    // and the canonical-URL join outcome — all closed-form in id
    // arithmetic (both markup variants extract the SAME src, so the
    // twin never needs to know which parity used nested <source>).
    "p146_video_text_pairs" ->
      s"""WITH vfa AS (SELECT doc_id AS id FROM documents
          WHERE doc_id % 3 = 2),
        vcap AS (SELECT id, id - id % 5 + 5 AS tgt,
            CASE WHEN id % 7 <> 4 AND id % 4 < 2
              THEN 'der clip & ' || (id - id % 5 + 5)
                   || ' und take ' || id
              WHEN id % 7 <> 4
              THEN 'el video & ' || (id - id % 5 + 5)
                   || ' los frames ' || id
              ELSE '' END AS caption
          FROM vfa),
        vlng AS (SELECT id, tgt, caption,
            CASE
              WHEN ' ' || caption || ' ' LIKE '% the %'
                OR ' ' || caption || ' ' LIKE '% and %' THEN 'en'
              WHEN ' ' || caption || ' ' LIKE '% le %'
                OR ' ' || caption || ' ' LIKE '% la %' THEN 'fr'
              WHEN ' ' || caption || ' ' LIKE '% der %'
                OR ' ' || caption || ' ' LIKE '% und %' THEN 'de'
              WHEN ' ' || caption || ' ' LIKE '% el %'
                OR ' ' || caption || ' ' LIKE '% los %' THEN 'es'
              ELSE 'unknown' END AS caption_lang,
            CASE WHEN caption = '' THEN 0
                 ELSE len(string_split(caption, ' ')) END AS nw
          FROM vcap),
        vid AS (SELECT doc_id AS tgt FROM documents WHERE doc_id % 5 = 0)
        SELECT c.id AS page_id, CAST(0 AS integer) AS fig_idx,
               coalesce(v.tgt, -1) AS video_id, c.caption, c.caption_lang,
               CAST(c.nw AS integer) AS n_caption_words,
               c.nw >= 3 AS kept,
               v.tgt IS NOT NULL AS decoded
        FROM vlng c LEFT JOIN vid v ON c.tgt = v.tgt
        ORDER BY page_id, fig_idx""",

    // Interleaved-document twin: kept text blocks via the blockExtract
    // CTEs over the PLAIN page (figure insertion is invariant to block
    // segmentation — spec-pinned), figure items appended from the
    // closed-form id arithmetic (figures sit between the last paragraph
    // and the dropped footer, so they are last in document order), the
    // merged sequence numbered 0..n-1.
    "p147_interleaved_docs" ->
      s"""$oHtmlCtes,
        $oBlockCtes,
        tx AS (SELECT id, cast(u.i AS integer) AS seq_idx,
                 'text' AS kind,
                 kept[cast(u.i AS integer) + 1].t AS content
               FROM k, unnest(range(0, len(kept))) AS u(i)),
        fg AS (SELECT id, cast(len(kept) + t.j AS integer) AS seq_idx,
                 'image' AS kind,
                 'https://site' || (((id - id % 4) + 4*t.j) % 13)
                   || '.example.com:443/media/img'
                   || ((id - id % 4) + 4*t.j) || '.png#thumb' AS content
               FROM k, unnest(range(0, id % 3)) AS t(j))
        SELECT id AS page_id, seq_idx, kind, content,
               CASE WHEN kind = 'text'
                 THEN cast(len(string_split(content, ' ')) AS integer)
                 ELSE 0 END AS n_words
        FROM (SELECT * FROM tx UNION ALL SELECT * FROM fg)
        ORDER BY page_id, seq_idx""",

    // Multimodal-shard twin: per-page cost = kept-block word sum plus
    // 16 per figure (all id%3 figures carry a src), then the p21/p104
    // packing arithmetic — exclusive page-ordered prefix sum,
    // floor(excl / budget) — and the per-shard rollup.
    "p148_multimodal_shards" ->
      s"""$oHtmlCtes,
        $oBlockCtes,
        ct AS (SELECT id,
                 coalesce(list_sum(list_transform(kept,
                   rr -> len(string_split(rr.t, ' ')))), 0)
                   + 16 * (id % 3) AS n_toks,
                 id % 3 AS n_images
               FROM k),
        pk AS (SELECT id, n_toks, n_images,
              coalesce(sum(n_toks) OVER (ORDER BY id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
              FROM ct)
        SELECT cast(floor(excl / 5000) AS integer) AS shard,
              count(*) AS n_pages, cast(sum(n_toks) AS bigint) AS total_toks,
              cast(sum(n_images) AS bigint) AS total_images,
              min(id) AS first_page, max(id) AS last_page
        FROM pk GROUP BY shard ORDER BY shard"""
  )
}
