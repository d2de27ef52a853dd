package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shared

/** Shared sub-sequence containment machinery — ONE audited
  * implementation for every temporally-ordered perceptual-hash modality
  * (audio window fingerprints, video frame hashes), the
  * [[BandedHamming]] precedent applied to alignment search: clip A is
  * contained in clip B iff every cap-surviving element hash of A
  * equi-joins an element of B at one fixed offset. The join is on the
  * 64-bit element hash over slim rows — payloads never participate, and
  * the only full-sequence comparison is a count.
  *
  * Contract:
  *  - input: one row per sequence element with (id, pos, n, hash) where
  *    `n` is the element count of that id's sequence.
  *  - output: (inner_id, outer_id, offset_pos, n_matched) where
  *    n_matched = the inner's SURVIVING element count — full coverage of
  *    every element that passed the degenerate-hash cap at offset_pos.
  *    Equal-length mutual matches emit one canonical direction
  *    (inner_id < outer_id); strict sub-sequences emit inner→outer only
  *    (n(inner) < n(outer) rules out the reverse).
  *
  * Cap/coverage semantics (the 100 TB recall story): degenerate hashes
  * (digital silence, flat/black frames — the [[BandedHamming]]
  * flat-color analog) are size-filtered BEFORE the join with the house
  * default cap, so a globally common element can never mint a
  * candidate clique. Coverage is then counted against the inner clip's
  * SURVIVING elements, not its original length — a clip carrying one
  * popular window (half a second of silence inside an otherwise unique
  * song) is still findable instead of silently unreportable. The
  * `minSurvivingFrac` floor keeps the claim meaningful: a clip whose
  * surviving count drops below ceil(frac · n) (e.g. an all-silence
  * clip with ZERO surviving elements) is excluded from the inner side
  * — "contained" based on a rump of its windows would be noise, and
  * pure-degenerate clips are exactly the clique-blowup case the cap
  * exists to drop. With an uncapped call (`maxBucketSize =
  * Long.MaxValue`) surviving ≡ n and the output reduces exactly to the
  * original full-coverage contract — which is why the oracled fixture
  * queries pass the explicit uncapped cap rather than relying on the
  * default being a no-op.
  *
  * Scale shape: candidate volume is bounded at O(rows × cap); the
  * cap's window shares the join's hash partitioning (no extra
  * exchange); the surviving-count side is a tiny per-id aggregate
  * (≤ one row per clip) joined UNHINTED onto the slim
  * (inner, outer, offset) aggregate — AQE converts it to broadcast at
  * runtime from its true map-output size (the measured gate with zero
  * extra passes), and degrades to a shuffled join past the threshold.
  */
object SequenceContainment {

  /** Below this fraction of a clip's elements surviving the cap, the
    * clip is excluded from the inner (containee) side — see object doc.
    */
  val DefaultMinSurvivingFrac = 0.5

  /** See object doc. `df` columns: idCol, posCol, nCol, hashCol.
    *
    * `shareUpstream` (default true): materialize the capped-window rows
    * once ([[Shared]]) so the three internal consumers share a
    * single evaluation of the caller's upstream — right when that
    * upstream is expensive (media decode). A caller whose upstream is
    * CHEAP relative to the rows it yields (p112: synthesized audio
    * windows re-sliced in SQL) passes false: there the materialization
    * job costs more than the re-evaluations it saves (measured 0.48 →
    * 1.17 s in round 18; split per entry point in round 19).
    */
  def pairs(df: DataFrame, idCol: String, posCol: String, nCol: String,
            hashCol: String,
            maxBucketSize: Long = BandedHamming.DefaultMaxBucketSize,
            minSurvivingFrac: Double = DefaultMinSurvivingFrac,
            shareUpstream: Boolean = true)
      : DataFrame =
    pairsFrom(
      df.select(col(idCol).as("__id"), col(posCol).as("__pos"),
        col(nCol).as("__n"), col(hashCol).as("__h"), lit(0).as("__side")),
      crossSidesOnly = false, maxBucketSize, minSurvivingFrac,
      shareUpstream)

  /** Batch-vs-corpus refresh pairs (the [[BandedHamming.incrementalPairs]]
    * shape for alignment search — the daily-slice segment-search plan):
    * containments BETWEEN the settled corpus and an incoming batch, in
    * BOTH directions (a new clip may be an excerpt of a corpus clip, or
    * contain one), with corpus-vs-corpus and batch-vs-batch pairs
    * excluded — the corpus is never re-joined against itself. The
    * degenerate-hash cap is SYMMETRIC: bucket sizes are counted over the
    * union of both sides (the r16 BandedHamming lesson — a pathological
    * batch must not resurrect a capped corpus clique). Ids must be
    * disjoint across sides (the house id-offset convention); same
    * output columns and direction rule as [[pairs]].
    */
  def incrementalPairs(corpus: DataFrame, batch: DataFrame,
            idCol: String, posCol: String, nCol: String, hashCol: String,
            maxBucketSize: Long = BandedHamming.DefaultMaxBucketSize,
            minSurvivingFrac: Double = DefaultMinSurvivingFrac,
            shareUpstream: Boolean = true)
      : DataFrame = {
    def side(d: DataFrame, s: Int) =
      d.select(col(idCol).as("__id"), col(posCol).as("__pos"),
        col(nCol).as("__n"), col(hashCol).as("__h"), lit(s).as("__side"))
    pairsFrom(side(corpus, 0).unionByName(side(batch, 1)),
      crossSidesOnly = true, maxBucketSize, minSurvivingFrac,
      shareUpstream)
  }

  private def pairsFrom(wins: DataFrame, crossSidesOnly: Boolean,
                        maxBucketSize: Long, minSurvivingFrac: Double,
                        shareUpstream: Boolean)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Shared (r18 optimization round): three consumers read this
    // subtree — the surviving-count aggregate and BOTH sides of the
    // alignment self-join. Exchange reuse dedupes them only when AQE
    // happens to canonicalize all three reads onto one exchange; at
    // local[32] the profile showed the plant/decode/window upstream (the
    // operator's dominant cost — 219 s summed task time for p100's GIF
    // encode+demux) evaluated a SECOND time (+27.5 s). The rows here are
    // slim (id, pos, n, hash, side) — hash-sized, never payloads.
    // Gated on `shareUpstream` (r19): a cheap-upstream caller skips the
    // materialization barrier entirely — see [[pairs]].
    val cappedRaw = wins
      .withColumn("__bs", count(lit(1)).over(Window.partitionBy(col("__h"))))
      .filter(col("__bs") <= maxBucketSize).drop("__bs")
    val capped =
      if (shareUpstream) Shared(cappedRaw) else cappedRaw
    // Per-id surviving counts: one slim row per clip. Small at fixture
    // scale but per-CLIP-cardinality at corpus scale, so NO forced
    // broadcast hint (the r17 verdict: a hint here rested on Catalyst's
    // size ESTIMATE of an aggregate) and no driver-measured count
    // either — a count pre-pass re-evaluates this operator's expensive
    // upstream (plant/decode/window-cap) once per gate, which a 6.6×
    // p112 regression measured in round 18. The UNHINTED join is the
    // measured gate: AQE converts it to broadcast at runtime from the
    // aggregate's TRUE map-output size (zero extra passes), and past
    // the threshold it stays a shuffled join — degrade, never OOM.
    val surv = capped.groupBy(col("__id").as("inner_id"))
      .agg(count(lit(1)).as("__ns"))
    val a = capped.select(col("__id").as("inner_id"), col("__pos").as("__wa"),
      col("__n").as("__na"), col("__h"), col("__side").as("__sa"))
    val b = capped.select(col("__id").as("outer_id"), col("__pos").as("__wb"),
      col("__n").as("__nb"), col("__h"), col("__side").as("__sb"))
    val joined = a.join(b, Seq("__h"))
      .filter(col("inner_id") =!= col("outer_id"))
    val scoped =
      if (crossSidesOnly) joined.filter(col("__sa") =!= col("__sb"))
      else joined
    scoped
      .groupBy(col("inner_id"), col("outer_id"),
        (col("__wb") - col("__wa")).cast("long").as("offset_pos"))
      .agg(count(lit(1)).as("n_matched"),
        max(col("__na")).as("__na"), max(col("__nb")).as("__nb"))
      .join(surv, Seq("inner_id"))
      .filter(col("n_matched") === col("__ns") &&
        col("__ns") >= ceil(col("__na") * lit(minSurvivingFrac)) &&
        (col("__na") < col("__nb") ||
          (col("__na") === col("__nb") &&
            col("inner_id") < col("outer_id"))))
      .select(col("inner_id"), col("outer_id"), col("offset_pos"),
        col("n_matched"))
  }

  /** Keep-the-container dedup ACTION over containment pairs: a clip
    * survives iff it is never the inner (contained) side of a pair —
    * the containment relation from [[pairs]] is TRANSITIVELY CLOSED by
    * construction (if every element of A matches into B at one offset
    * and every element of B matches into C at one offset, then every
    * element of A matches into C at the summed offset, so the pair
    * (A, C) is emitted directly), which makes "drop anything contained
    * in a surviving clip" — the recursive chain rule: A ⊂ B ⊂ C keeps
    * only C — equal to the non-recursive "drop every inner".
    * (Cap-induced edge loss can break closure in principle; the oracled
    * queries run uncapped, and a partially-capped chain degrades to
    * keeping an intermediate container — still a container of the
    * dropped clips.) For equal-length mutual matches the emit
    * convention (inner_id < outer_id) keeps the LARGER id — exact-dup
    * min-id dedup is a different operator (p18's chain).
    *
    * `ids`: one row per clip id (column `id`). Output: (id,
    * is_survivor) for every input id. The dropped set is a slim
    * distinct aggregate at per-clip cardinality — UNHINTED for the same
    * reason as the surviving-count join above (a driver-measured count
    * would re-run the whole containment join once per call; AQE's
    * runtime conversion gates on the aggregate's true size for free).
    */
  def survivors(ids: DataFrame, pairList: DataFrame): DataFrame = {
    val dropped = pairList.select(col("inner_id").as("id")).distinct()
      .withColumn("__dropped", lit(1))
    ids.join(dropped, Seq("id"), "left")
      .select(col("id"), col("__dropped").isNull.as("is_survivor"))
  }
}
