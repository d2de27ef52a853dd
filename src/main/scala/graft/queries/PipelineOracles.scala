package graft.queries

import Pipeline.{BpeBudget, CopyIdOffset, Fresh2IdOffset, FreshIdOffset, KmIters,
  SampledTrainFraction}
import Pipeline.Queries.{KNN_MAX_BUCKET, KNN_TARGET_BUCKET}

/** DuckDB twins of the [[Pipeline]] queries: for each query, SQL over
  * the same parquet tables that must give the same rows. `Verify` writes
  * them out through `SparkEntry.oracleSql` for the differential check, so
  * they live under `src/main`, apart from the engine code they check. The
  * parameters both sides use (id offsets, iteration counts, budgets) are
  * defined once, in [[Pipeline]].
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
object PipelineOracles {

  /** DuckDB twin of the sampled trainers' hash-sample predicate
    * ([[Pipeline.SampledTrainFraction]]) — plain `%` equals pmod for the
    * non-negative ids the fixture contract guarantees.
    */
  private val SampledTrainCutoff =
    (SampledTrainFraction * 4294967296.0).toLong
  private val SampledTrainSql =
    s"""(SELECT vec_id, embedding FROM embeddings
       WHERE ((vec_id % 4294967296) * 1103515245) % 4294967296
             < $SampledTrainCutoff)"""

  /** DuckDB twin of `Pipeline.driftedFrame` — the `src` both trainer CTE
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
      s"""WITH params AS (
          SELECT CASE WHEN q <= 1 THEN 1
                      ELSE least(16, length(printf('%b', q - 1))) END AS nb
          FROM (SELECT (count(*) + ${KNN_TARGET_BUCKET - 1}) // $KNN_TARGET_BUCKET AS q FROM embeddings)),
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
        ok AS (SELECT bucket FROM sizes WHERE bsz <= $KNN_MAX_BUCKET),
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
    // dedup path, connected components included, verified exactly.
    "p32_semantic_clusters" ->
      s"""WITH RECURSIVE params AS (
          SELECT CASE WHEN q <= 1 THEN 1
                      ELSE least(16, length(printf('%b', q - 1))) END AS nb
          FROM (SELECT (count(*) + ${KNN_TARGET_BUCKET - 1}) // $KNN_TARGET_BUCKET AS q FROM embeddings)),
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
        ok AS (SELECT bucket FROM sizes WHERE bsz <= $KNN_MAX_BUCKET),
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
