package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** HTML → text extraction: the FIRST stage of every web-crawl training-data
  * pipeline (CommonCrawl WARC → text), missing from the corpus until r13.
  *
  * Two operators:
  *  - [[htmlToText]]: full-page strip — script/style removal, tag removal,
  *    entity decode, whitespace collapse (the CCNet/C4 preprocessing shape;
  *    Wenzek et al. 2020, Raffel et al. 2020).
  *  - [[blockExtract]]: jusText-style main-content extraction (Pomikálek
  *    2011) — segment into block-level elements, score each block by link
  *    density + word count, keep content blocks, drop boilerplate
  *    (nav/footer chrome is link-dense; fragments are short).
  *
  * Like the media family ([[Multimodal]]), inputs are PLANTED: a
  * deterministic page is built around each document's text
  * ([[plantHtml]]), so a DuckDB oracle can rebuild the same page
  * closed-form and run the same extraction with its own regex engine
  * (RE2) — a true differential test of the whole strip pipeline against
  * Java's regex, not a self-comparison.
  *
  * Everything is codegen'd built-ins (`regexp_replace` /
  * `regexp_extract_all` / higher-order array functions) — no UDFs, no
  * shuffle: both operators are narrow per-row transforms, so they scale
  * with the scan and distribute trivially at 100 TB (reference analog:
  * per-partition narrow work stays fused to the scan,
  * `src/execution_plan.rs` stage-building keeps pipelines unbroken).
  *
  * Regex-dialect note: patterns here avoid everything Java regex and RE2
  * disagree on — no backreferences (RE2 has none: the block alternation is
  * spelled `(?:p|h1|nav|footer)` twice instead of `\1`), no lookaround,
  * and `\s` only ever sees plain spaces in planted content (Java's `\s`
  * includes `\x0B`, RE2's does not — irrelevant for ASCII-space text, and
  * documented here for real-corpus users).
  */
object Html {

  /** Tokens per planted paragraph block. */
  val ParaTokens = 12

  /** Link-density keep threshold, in micro units (0.5 = 500000). */
  val LinkDensityMaxMicro = 500000L

  /** Minimum words for a block to count as content. */
  val MinBlockWords = 3

  /** Wrap each document's text in a deterministic HTML page: head with
    * title/style/script (the script body contains raw `<`, `>` and `&&` —
    * the classic trap that breaks naive tag-stripping if script removal
    * doesn't run first), a link-dense `<nav>` (1 + id%4 anchors), an `<h1>`
    * carrying `&amp;`/`&lt;` entities, the text chunked into `<p>` blocks
    * of [[ParaTokens]] tokens (every (id+i)%5==0 paragraph has its first
    * word wrapped in an anchor — content links must NOT get a block
    * dropped), and a link-dense `<footer>`. The page is a pure string
    * function of (id, text), so a DuckDB oracle rebuilds it exactly.
    */
  def plantHtml(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      plantedPage(col(idCol), col(textCol)).as("html"))

  /** The planted page as a column expression of (id, text) — exposed so
    * composite fixtures ([[Warc.plantWarcs]]) embed the SAME closed-form
    * page without a second scan or a self-join.
    */
  def plantedPage(id: Column, text: Column): Column =
    plantedPageWith(id, text, lit(""))

  /** Figure count per planted page: 0, 1 or 2 — pages without figures
    * exercise the empty side of the pair join.
    */
  private def nFigures(id: Column): Column = (id % 3).cast("int")

  /** Image id referenced by figure slot `j` of page `id`: the nearest
    * ids ≡ 0 (mod 4) — exactly the ids whose crawl file carries an
    * image response ([[Warc.plantPairedWarcs]]), so most references
    * resolve and the tail past the corpus maximum exercises the
    * missing-image side.
    */
  private def figTarget(id: Column, j: Column): Column =
    (id - id % 4) + j * 4

  /** The planted `<figure>` blocks of a page: `<img>` whose src is a
    * MESSY variant of the crawl image URI (lowercase no-www host with
    * an explicit default port and a fragment — canonicalization, not
    * string equality, must join it to [[Urls.plantedImageUrl]]'s
    * variant), a one-word `alt`, and — for (id+j) % 3 ≠ 2 — a
    * `<figcaption>` carrying an `&amp;` entity (the decode path is part
    * of the differential). Caption-less figures fall back to the alt
    * text and FAIL the word-count quality gate by construction.
    */
  def plantedFigures(id: Column): Column = {
    val n = nFigures(id)
    def fig(j: Column): Column = {
      val tgt = figTarget(id, j).cast("string")
      val src = concat(lit("https://site"), (figTarget(id, j) % 13).cast("string"),
        lit(".example.com:443/media/img"), tgt, lit(".png#thumb"))
      // Caption language varies by (id+j) parity — English stopwords
      // vs French articles — so the language-ID quality gate downstream
      // has a real signal; both variants keep the &amp; entity.
      val cap = when((id + j) % 2 === 0,
        concat(lit("a planted photo &amp; the caption of doc "), tgt,
          lit(" and slot "), j.cast("string")))
        .otherwise(
          concat(lit("le photo &amp; la caption planted doc "), tgt,
            lit(" slot "), j.cast("string")))
      concat(lit("<figure><img src=\""), src, lit("\" alt=\"thumb"), tgt,
        lit("\">"),
        when((id + j) % 3 =!= 2,
          concat(lit("<figcaption>"), cap, lit("</figcaption>")))
          .otherwise(lit("")),
        lit("</figure>"))
    }
    when(n >= 1,
      array_join(transform(sequence(lit(0), n - 1), fig(_)), ""))
      .otherwise(lit(""))
  }

  /** [[plantedPage]] with the figure blocks inserted between the
    * paragraphs and the footer — the multimodal-page fixture of the
    * image–text pair family. `<figure>` is not a [[BlockRe]] tag, so
    * [[blockExtract]]'s segmentation is unchanged by construction.
    */
  def plantedPageWithFigures(id: Column, text: Column): Column =
    plantedPageWith(id, text, plantedFigures(id))

  /** The planted `<audio>` figure of a page — the AudioCaps-shape
    * fixture: every ODD id carries one `<figure><audio src>` whose src
    * is a messy variant of the crawl clip URL for the NEXT audio id
    * (`id - id%6 + 6` — references past the corpus maximum exercise
    * the missing-clip side), with a figcaption for id % 5 ≠ 3
    * (caption-less audio figures have NO alt fallback and fail the
    * gate), language by id % 4 parity.
    */
  def plantedAudioFigures(id: Column): Column = {
    val tgtL = id - id % 6 + 6
    val tgt = tgtL.cast("string")
    val src = concat(lit("https://site"), (tgtL % 13).cast("string"),
      lit(".example.com:443/media/clip"), tgt, lit(".wav#t"))
    val cap = when(id % 4 === 1,
      concat(lit("a field recording &amp; the clip "), tgt,
        lit(" and take "), id.cast("string")))
      .otherwise(
        concat(lit("le enregistrement &amp; la clip "), tgt,
          lit(" take "), id.cast("string")))
    when(id % 2 === 1,
      concat(lit("<figure><audio src=\""), src, lit("\"></audio>"),
        when(id % 5 =!= 3,
          concat(lit("<figcaption>"), cap, lit("</figcaption>")))
          .otherwise(lit("")),
        lit("</figure>")))
      .otherwise(lit(""))
  }

  /** [[plantedPage]] with the audio figure inserted — the paired-crawl
    * fixture for [[audioTextPairs]].
    */
  def plantedPageWithAudioFigures(id: Column, text: Column): Column =
    plantedPageWith(id, text, plantedAudioFigures(id))

  /** The planted `<video>` figure of a page — the WebVid-shape fixture:
    * every id % 3 == 2 page carries one video figure whose src is the
    * page-side variant of the crawl clip URL for the NEXT video id
    * (`id - id%5 + 5` — tail references past the corpus maximum
    * exercise the missing-clip side). The MARKUP alternates by parity —
    * even ids use a direct `<video poster src>` (the `poster` attribute
    * is an IMAGE url the extractor must not confuse with the clip src),
    * odd ids use the HTML5 nested-`<source>` form (`<video controls>`
    * with no src attribute at all) — so both extraction paths of
    * [[videoFigures]] are exercised by every fixture. Figcaption for
    * id % 7 ≠ 4 (video has no alt fallback either — caption-less
    * figures fail the gate), language by id % 4 < 2: de / es (the two
    * langId families the image/audio fixtures don't cover).
    */
  def plantedVideoFigures(id: Column): Column = {
    val tgtL = id - id % 5 + 5
    val tgt = tgtL.cast("string")
    val src = concat(lit("https://site"), (tgtL % 13).cast("string"),
      lit(".example.com:443/media/anim"), tgt, lit(".gif#t"),
      id.cast("string"))
    val media = when(id % 2 === 0,
      concat(lit("<video poster=\"/thumb"), id.cast("string"),
        lit(".png\" src=\""), src, lit("\"></video>")))
      .otherwise(
        concat(lit("<video controls><source src=\""), src,
          lit("\" type=\"video/gif\"></video>")))
    val cap = when(id % 4 < 2,
      concat(lit("der clip &amp; "), tgt, lit(" und take "),
        id.cast("string")))
      .otherwise(
        concat(lit("el video &amp; "), tgt, lit(" los frames "),
          id.cast("string")))
    when(id % 3 === 2,
      concat(lit("<figure>"), media,
        when(id % 7 =!= 4,
          concat(lit("<figcaption>"), cap, lit("</figcaption>")))
          .otherwise(lit("")),
        lit("</figure>")))
      .otherwise(lit(""))
  }

  /** [[plantedPage]] with the video figure inserted — the paired-crawl
    * fixture for [[videoTextPairs]].
    */
  def plantedPageWithVideoFigures(id: Column, text: Column): Column =
    plantedPageWith(id, text, plantedVideoFigures(id))

  /** [[plantedPage]] with ALL THREE modality figure families inserted
    * (image, then audio, then video — each under its own id rule, so
    * most pages carry a proper subset) — the mixed-modality fixture of
    * the three-way interleaved document ([[interleavedDoc]] with
    * `allModalities = true`).
    */
  def plantedPageWithAllFigures(id: Column, text: Column): Column =
    plantedPageWith(id, text, concat(plantedFigures(id),
      plantedAudioFigures(id), plantedVideoFigures(id)))

  private def plantedPageWith(id: Column, text: Column,
                              figures: Column): Column = {
    val idS = id.cast("string")
    val toks = tokens(text)
    val n = size(toks)
    // ceil(n / ParaTokens); exact for n < 2^31 (double mantissa).
    val nP = ceil((n.cast("double")) / ParaTokens).cast("int")

    val head = concat(
      lit("<html><head><title>doc "), idS,
      lit("</title><style>.m{color:#000}</style>" +
        "<script type=\"text/javascript\">var d="), idS,
      lit(";track(d*3 > 2 && d < 9);</script></head><body>"))

    val navN = (id % 4 + 1).cast("int")
    val nav = concat(lit("<nav>"),
      array_join(transform(sequence(lit(0), navN - 1), j => concat(
        lit("<a href=\"/nav/"), j.cast("string"), lit("\">nav item "),
        j.cast("string"), lit("</a>"))), " "),
      lit("</nav>"))

    val h1 = concat(lit("<h1>doc "), idS, lit(" &amp; heading &lt;x&gt;</h1>"))

    def para(i: Column): Column = {
      val start = i * ParaTokens + 1
      val w1 = element_at(toks, start)
      val rest = slice(toks, start + 1, lit(ParaTokens - 1))
      val anchored = concat(
        lit("<a href=\"/r/"), i.cast("string"), lit("\">"), w1, lit("</a>"),
        when(size(rest) > 0, concat(lit(" "), array_join(rest, " ")))
          .otherwise(lit("")))
      val plain = array_join(slice(toks, start, lit(ParaTokens)), " ")
      concat(lit("<p>"),
        when((id + i) % 5 === 0, anchored).otherwise(plain),
        lit("</p>"))
    }
    // sequence(0, -1) would yield [0, -1] (Spark infers a negative step),
    // so the nP == 0 case (null text) is guarded explicitly.
    val paras = when(nP >= 1,
      array_join(transform(sequence(lit(0), nP - 1), para(_)), ""))
      .otherwise(lit(""))

    val footer = lit("<footer><a href=\"/p\">privacy policy</a> " +
      "<a href=\"/t\">terms of use</a> &amp; <a href=\"/c\">contact</a>" +
      "</footer>")

    concat(head, nav, h1, paras, figures, footer, lit("</body></html>"))
  }

  /** Decode the common HTML entities. `&amp;` is decoded LAST so that
    * `&amp;lt;` yields the literal `&lt;`, not `<` (single-decode, the
    * order every correct extractor uses).
    */
  def decodeEntities(c: Column): Column =
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
        "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(c) { case (acc, (k, v)) => replace(acc, lit(k), lit(v)) }

  /** Full-page text extraction: drop script/style SUBTREES (content and
    * all — their text is code, not prose), strip remaining tags to spaces,
    * decode entities (after tag-strip, so decoded `<x>` survives as text),
    * collapse whitespace. Pure codegen'd column expression.
    */
  def htmlToText(c: Column): Column = {
    val noScript = regexp_replace(c, "(?s)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    trim(regexp_replace(decodeEntities(noTags), "\\s+", " "))
  }

  /** Total characters of anchor inner text (the numerator of link
    * density). Empty-anchor pages sum to 0, not null. The tag name is
    * boundary-anchored — `<a(?:\s[^>]*)?>` matches bare `<a>` and
    * attribute-bearing anchors but NOT `<abbr>`/`<article>` (ADVICE r13).
    */
  def anchorChars(html: Column): Column =
    aggregate(
      regexp_extract_all(html, lit("(?s)<a(?:\\s[^>]*)?>(.*?)</a>"), lit(1)),
      lit(0L), (acc, x) => acc + length(x).cast("long"))

  /** Page-level extraction + boilerplate features: extracted text, char
    * count, tag/link counts, link density (micro units; integer surface —
    * the repo's float-off-the-hash-surface policy, see p47). One narrow
    * projection, no shuffle.
    */
  def pageFeatures(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val h = col(htmlCol)
    val text = htmlToText(h)
    df.select(col(idCol).as("id"),
        text.as("text"),
        length(text).as("text_chars"),
        size(regexp_extract_all(h, lit("<[a-zA-Z/!][^>]*>"), lit(0))).as("n_tags"),
        size(regexp_extract_all(h, lit("<a(?:\\s[^>]*)?>"), lit(0))).as("n_links"),
        anchorChars(h).as("anchor_chars"))
      // floor(double) here equals exact integer division: numerator
      // ≤ ~1e9 is double-exact and a non-exact quotient sits ≥ 1/denom
      // ≫ 1 ulp from any integer, so IEEE rounding cannot cross one.
      .withColumn("ld_micro",
        floor(col("anchor_chars") * 1000000L /
          greatest(col("text_chars"), lit(1))).cast("long"))
  }

  // Tag names are boundary-anchored (`(?:\s[^>]*)?` instead of `[^>]*`):
  // without the boundary, `<pre>`/`<param>`/`<picture>` would open a "p"
  // block that lazily closes at the first `</p>` and mis-segment
  // real-corpus pages (ADVICE r13). Still RE2-compatible — no lookaround.
  private val BlockRe =
    "(?s)<(?:p|h1|nav|footer)(?:\\s[^>]*)?>.*?</(?:p|h1|nav|footer)\\s*>"

  /** jusText-style main-content extraction: segment the page into
    * block-level elements, keep blocks with link density <
    * [[LinkDensityMaxMicro]] AND ≥ [[MinBlockWords]] words, emit the kept
    * blocks' text in document order. Implemented entirely with
    * higher-order array functions — block order is preserved by
    * construction (no explode/groupBy round trip), the whole operator is
    * one codegen'd narrow projection.
    */
  def blockExtract(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val blocks = regexp_extract_all(col(htmlCol), lit(BlockRe), lit(0))
    // Two HOF levels on purpose: higher-order lambdas evaluate interpreted
    // (CodegenFallback — no runtime subexpression elimination), so a
    // single-level struct(t, words(t), density(t)) would run the whole
    // strip-regex chain up to 3× per block. Level 1 runs strip + anchor
    // count exactly ONCE per block into a struct; level 2 derives cheap
    // features from the MATERIALIZED struct fields (the lambda boundary
    // keeps SimplifyExtractValueOps from re-inlining the chain), and the
    // staged selects keep CollapseProject from duplicating the non-cheap
    // arrays across consumers.
    val raw = transform(blocks, b =>
      struct(htmlToText(b).as("t"), anchorChars(b).as("a")))
    val infos = transform(col("__raw"), r => struct(
      r("t").as("t"),
      when(r("t") === "", lit(0)).otherwise(size(split(r("t"), " "))).as("w"),
      floor(r("a") * 1000000L / greatest(length(r("t")), lit(1)))
        .cast("long").as("ld")))
    val kept = filter(col("__infos"),
      i => i("ld") < LinkDensityMaxMicro && i("w") >= MinBlockWords)
    df.select(col(idCol).as("id"), raw.as("__raw"))
      .select(col("id"), size(col("__raw")).as("n_blocks"), infos.as("__infos"))
      .select(col("id"), col("n_blocks"), kept.as("__kept"))
      .select(col("id"), col("n_blocks"),
        size(col("__kept")).as("n_kept"),
        array_join(transform(col("__kept"), i => i("t")), " ").as("main_text"))
      .withColumn("main_chars", length(col("main_text")))
  }

  /** Interleaved multimodal training DOCUMENT (the MMC4/OBELICS shape —
    * what a vision-language-model pretraining corpus actually stores):
    * one row per kept item of the page in DOCUMENT ORDER, where an item
    * is either a main-content text block (the [[blockExtract]] jusText
    * gate: link density < [[LinkDensityMaxMicro]], ≥ [[MinBlockWords]]
    * words) or an image placement (a `<figure>` with an `<img src>`).
    * Text rows carry the block text and its word count; image rows
    * carry the raw src (join it to crawl records via
    * [[Urls.canonicalize]] downstream) and `n_words = 0`.
    *
    * Document order is preserved BY CONSTRUCTION: one alternation regex
    * extracts blocks and figures in a single left-to-right pass, the
    * quality gate is an array `filter`, and `posexplode` numbers the
    * surviving sequence — no explode/groupBy/window round trip, no
    * shuffle; the whole operator is one narrow projection per page at
    * any corpus scale. Same two-level HOF materialization discipline as
    * [[blockExtract]] (level 1 runs the strip regex once per item).
    */
  def interleavedDoc(df: DataFrame, idCol: String, htmlCol: String,
                     allModalities: Boolean = false): DataFrame = {
    val itemRe = BlockRe + "|<figure(?:\\s[^>]*)?>.*?</figure\\s*>"
    val items = regexp_extract_all(col(htmlCol), lit(itemRe), lit(0))
    def aud(b: Column): Column =
      if (!allModalities) lit("")
      else regexp_extract(b, "(?s)<audio[^>]*\\ssrc=\"([^\"]*)\"", 1)
    def vid(b: Column): Column =
      if (!allModalities) lit("")
      else {
        val direct = regexp_extract(b,
          "(?s)<video[^>]*\\ssrc=\"([^\"]*)\"", 1)
        val nested = regexp_extract(b,
          "(?s)<video(?:\\s[^>]*)?>.*?<source[^>]*\\ssrc=\"([^\"]*)\"", 1)
        when(direct =!= "", direct).otherwise(nested)
      }
    val raw = transform(items, b => struct(
      startswith(b, lit("<figure")).as("f"),
      htmlToText(b).as("t"),
      anchorChars(b).as("a"),
      regexp_extract(b, "(?s)<img[^>]*\\ssrc=\"([^\"]*)\"", 1).as("si"),
      aud(b).as("sa"),
      vid(b).as("sv")))
    val infos = transform(col("__raw"), r => struct(
      r("f").as("f"), r("t").as("t"),
      r("si").as("si"), r("sa").as("sa"), r("sv").as("sv"),
      when(r("t") === "", lit(0)).otherwise(size(split(r("t"), " "))).as("w"),
      floor(r("a") * 1000000L / greatest(length(r("t")), lit(1)))
        .cast("long").as("ld")))
    val kept = filter(col("__infos"), i =>
      (i("f") && (i("si") =!= "" || i("sa") =!= "" || i("sv") =!= "")) ||
        (!i("f") && i("ld") < LinkDensityMaxMicro && i("w") >= MinBlockWords))
    val kind =
      when(!col("__i")("f"), lit("text"))
        .when(col("__i")("si") =!= "", lit("image"))
        .when(col("__i")("sa") =!= "", lit("audio"))
        .otherwise(lit("video"))
    val content =
      when(!col("__i")("f"), col("__i")("t"))
        .when(col("__i")("si") =!= "", col("__i")("si"))
        .when(col("__i")("sa") =!= "", col("__i")("sa"))
        .otherwise(col("__i")("sv"))
    df.select(col(idCol).as("page_id"), raw.as("__raw"))
      .select(col("page_id"), infos.as("__infos"))
      .select(col("page_id"), kept.as("__kept"))
      .select(col("page_id"),
        posexplode(col("__kept")).as(Seq("seq_idx", "__i")))
      .select(col("page_id"), col("seq_idx"),
        kind.as("kind"),
        content.as("content"),
        when(col("__i")("f"), lit(0)).otherwise(col("__i")("w"))
          .as("n_words"))
  }

  /** Per-figure extraction — the first half of the LAION-shape
    * image–text pair operator: segment every `<figure>` block, pull the
    * `<img>` src, the `alt` text and the `<figcaption>` content, and
    * derive the CAPTION (figcaption when present, alt otherwise — the
    * standard alt-text fallback) through the same strip/decode/collapse
    * path as [[htmlToText]]. One narrow projection + a posexplode — no
    * shuffle; pages without figures emit nothing.
    *
    * Heuristic note (real corpora): `<img[^>]*\ssrc=` also matches a
    * `data-src=`-style attribute whose name ends in `src` — acceptable
    * for a crawl heuristic, RE2-safe (no lookbehind).
    *
    * Output: (page_id, fig_idx, src, caption, n_caption_words).
    */
  def imageFigures(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    mediaFigures(df, idCol, htmlCol, "img", altFallback = true)

  /** [[imageFigures]] for `<audio src>` figures — the AudioCaps-shape
    * front half (audio clip + surrounding caption text). No alt
    * fallback: `<audio>` carries no alt attribute, so a caption-less
    * audio figure yields an empty caption and fails the word gate.
    */
  def audioFigures(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    mediaFigures(df, idCol, htmlCol, "audio", altFallback = false)

  /** [[imageFigures]] for `<video>` figures — the WebVid-shape front
    * half. Two src conventions coexist in real markup: a direct
    * `src` attribute on the `<video>` tag, and the HTML5
    * `<video><source src>` nested form (no src attribute at all) —
    * the extractor takes the direct attribute when present, else the
    * first nested `<source src>`. The `poster` attribute (an IMAGE
    * url) never matches either rule. No alt fallback (video has none).
    */
  def videoFigures(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    mediaFigures(df, idCol, htmlCol, "video", altFallback = false,
      nestedSource = true)

  /** The tag-AGNOSTIC front half of [[mediaFigures]]: segment every
    * `<figure>` block of every page and posexplode to one row per
    * figure — `(page_id, fig_idx, __fig)` where `__fig` is the raw
    * figure snippet. This scan of the FULL page HTML is identical for
    * every modality (the per-tag caption/src regexes run on the small
    * snippets afterwards), so a caller extracting several modalities
    * from the same pages (p157) can compute it once, materialize it,
    * and feed each modality's back half — instead of re-scanning the
    * whole corpus' HTML per modality.
    */
  def figureSpans(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val figs = regexp_extract_all(col(htmlCol),
      lit("(?s)<figure(?:\\s[^>]*)?>.*?</figure\\s*>"), lit(0))
    df.select(col(idCol).as("page_id"),
      posexplode(figs).as(Seq("fig_idx", "__fig")))
  }

  private def mediaFigures(df: DataFrame, idCol: String, htmlCol: String,
                           tag: String, altFallback: Boolean,
                           nestedSource: Boolean = false): DataFrame =
    mediaFiguresFrom(figureSpans(df, idCol, htmlCol), tag, altFallback,
      nestedSource)

  /** The per-tag back half of [[mediaFigures]], over a pre-exploded
    * [[figureSpans]] frame: caption/src extraction and the
    * other-modality drop run on the figure SNIPPETS, never the full
    * page. Same expressions as always — [[mediaFigures]] delegates
    * here, so the single-modality call sites' plans are unchanged.
    */
  private[graft] def mediaFiguresFrom(spans: DataFrame,
                           tag: String, altFallback: Boolean,
                           nestedSource: Boolean = false): DataFrame = {
    val caption = {
      val figcap = regexp_extract(col("__fig"),
        "(?s)<figcaption(?:\\s[^>]*)?>(.*?)</figcaption\\s*>", 1)
      val alt = regexp_extract(col("__fig"),
        s"(?s)<$tag[^>]*\\salt=\"([^\"]*)\"", 1)
      when(length(figcap) > 0, htmlToText(figcap))
        .otherwise(if (altFallback) htmlToText(alt) else lit(""))
    }
    val src = {
      // `[^>]*` cannot cross the tag's closing `>`, so a nested
      // `<source src>` never satisfies the direct rule and vice versa.
      val direct = regexp_extract(col("__fig"),
        s"(?s)<$tag[^>]*\\ssrc=\"([^\"]*)\"", 1)
      if (!nestedSource) direct
      else {
        // The figure's OWN media tag must carry the nested <source> —
        // scope the fallback to the <tag ...>...</tag> span so a
        // (malformed) sibling <source> outside it never leaks in.
        val nested = regexp_extract(col("__fig"),
          s"(?s)<$tag(?:\\s[^>]*)?>.*?<source[^>]*\\ssrc=\"([^\"]*)\"", 1)
        when(direct =!= "", direct).otherwise(nested)
      }
    }
    spans
      .select(col("page_id"), col("fig_idx"),
        src.as("src"),
        caption.as("caption"))
      // figures of OTHER media kinds (no <tag src>) drop out here, so
      // mixed pages route each figure to exactly its modality's pairs.
      .filter(col("src") =!= "")
      .withColumn("n_caption_words",
        when(col("caption") === "", lit(0))
          .otherwise(size(split(col("caption"), " "))))
  }

  /** Image–text PAIR extraction (the LAION shape — the multimodal
    * training-pair product): page figures joined to the crawl's decoded
    * image records on [[Urls.canonicalize]]d source URL, captions
    * quality-gated at [[MinBlockWords]] words. The join is a slim
    * equi-join on the canonical URL — payloads were dropped on both
    * sides before it (figures carry text, image records carry a
    * decoded flag), so nothing heavier than a caption shuffles at any
    * corpus scale.
    *
    * `images`: one row per crawl image record with its id, target URL
    * and decode status. Output: (page_id, fig_idx, image_id [-1 when
    * the reference resolves to no crawl image], caption, caption_lang
    * (the n-gram language-ID heuristic — the LAION-style lang filter
    * input), n_caption_words, kept, decoded).
    */
  def imageTextPairs(pages: DataFrame, idCol: String, htmlCol: String,
                     images: DataFrame, imgIdCol: String, imgUrlCol: String,
                     decodedCol: String): DataFrame =
    mediaTextPairs(imageFigures(pages, idCol, htmlCol), "image_id",
      images, imgIdCol, imgUrlCol, decodedCol)

  /** [[imageTextPairs]] over a pre-exploded (and typically
    * materialized) [[figureSpans]] frame — the multi-modality router's
    * entry (p157): the full-HTML figure scan is paid once for all
    * three modalities instead of once per modality. Identical
    * expressions to [[imageTextPairs]] by construction (both delegate
    * to the same back halves).
    */
  def imageTextPairsFrom(spans: DataFrame,
                     images: DataFrame, imgIdCol: String, imgUrlCol: String,
                     decodedCol: String): DataFrame =
    mediaTextPairs(mediaFiguresFrom(spans, "img", altFallback = true),
      "image_id", images, imgIdCol, imgUrlCol, decodedCol)

  /** [[imageTextPairsFrom]] for the audio modality. */
  def audioTextPairsFrom(spans: DataFrame,
                     clips: DataFrame, clipIdCol: String, clipUrlCol: String,
                     decodedCol: String): DataFrame =
    mediaTextPairs(mediaFiguresFrom(spans, "audio", altFallback = false),
      "audio_id", clips, clipIdCol, clipUrlCol, decodedCol)

  /** [[imageTextPairsFrom]] for the video modality (direct-src or
    * nested-`<source>`). */
  def videoTextPairsFrom(spans: DataFrame,
                     clips: DataFrame, clipIdCol: String, clipUrlCol: String,
                     decodedCol: String): DataFrame =
    mediaTextPairs(mediaFiguresFrom(spans, "video", altFallback = false,
      nestedSource = true), "video_id", clips, clipIdCol, clipUrlCol,
      decodedCol)

  /** [[imageTextPairs]] for the audio modality: `<audio src>` figures
    * joined to the crawl's decoded audio records — the AudioCaps-shape
    * (clip, caption) training-pair product. Same canonical-URL join,
    * same quality gates; the media-id column is `audio_id`.
    */
  def audioTextPairs(pages: DataFrame, idCol: String, htmlCol: String,
                     clips: DataFrame, clipIdCol: String, clipUrlCol: String,
                     decodedCol: String): DataFrame =
    mediaTextPairs(audioFigures(pages, idCol, htmlCol), "audio_id",
      clips, clipIdCol, clipUrlCol, decodedCol)

  /** [[imageTextPairs]] for the video modality: `<video>` figures
    * (direct-src or nested-`<source>`) joined to the crawl's decoded
    * clip records — the WebVid-shape (clip, caption) training-pair
    * product. Same canonical-URL join, same quality gates; the media-id
    * column is `video_id`.
    */
  def videoTextPairs(pages: DataFrame, idCol: String, htmlCol: String,
                     clips: DataFrame, clipIdCol: String, clipUrlCol: String,
                     decodedCol: String): DataFrame =
    mediaTextPairs(videoFigures(pages, idCol, htmlCol), "video_id",
      clips, clipIdCol, clipUrlCol, decodedCol)

  private def mediaTextPairs(figs: DataFrame, outIdCol: String,
                             media: DataFrame, mIdCol: String,
                             mUrlCol: String, decodedCol: String): DataFrame = {
    val f = figs.withColumn("canon_src", Urls.canonicalize(col("src")))
    val m = media.select(col(mIdCol).as("__m_id"),
      Urls.canonicalize(col(mUrlCol)).as("canon_src"),
      col(decodedCol).as("__decoded"))
    f.join(m, Seq("canon_src"), "left")
      .select(col("page_id"), col("fig_idx"),
        coalesce(col("__m_id"), lit(-1L)).as(outIdCol),
        col("caption"),
        graft.functions.TextFunctions.langId(col("caption"))
          .as("caption_lang"),
        col("n_caption_words"),
        (col("n_caption_words") >= MinBlockWords).as("kept"),
        coalesce(col("__decoded"), lit(false)).as("decoded"))
  }
}
