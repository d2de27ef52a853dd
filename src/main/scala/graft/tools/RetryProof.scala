package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{GraftSession, Tables}
import graft.operators.{AudioHash, Dedup, Html, ImageHash, Multimodal, Sampling, Urls, VideoHash, Warc}

/** Task-retry safety proof: on a 1000-executor fleet, individual task
  * failures (preemption, bad node, OOM-kill) are routine — Spark
  * re-executes the failed task and the query must still produce the
  * RIGHT answer, which holds only if every operator is deterministic and
  * idempotent per partition (a retried task must recompute exactly what
  * the lost attempt would have produced). The reference gets the same
  * property from DataFusion's deterministic execution + its
  * error-propagation tests (`tests/error_propagation.rs`); this tool
  * proves it for the engine's own surface: custom codegen'd expressions
  * (MinHash), hash-keyed sampling, and the mapPartitions multimodal
  * path.
  *
  * Mechanism: a `local[N,3]` master (maxFailures=3 — the shared test
  * session's `local[N]` kills the job on the FIRST failure, which is why
  * this is a standalone main and not a spec). A fail-once UDF guard
  * (`FailOnce`) throws exactly once per (run-tag, partition) — the
  * retried attempt finds the marker and proceeds — so every partition of
  * the guarded stage is computed once by a FAILED task and once by its
  * retry. Each run's [[QueryProfile]] counts the failures; the result
  * must be bit-identical to the unguarded baseline.
  *
  * Usage: `runMain graft.tools.RetryProof [sfDir]`. Exits 1 on any
  * divergence or if no task failure was actually injected.
  */
object RetryProof {

  /** Executor-side fail-once registry. local-mode executors share the
    * driver JVM, so a static map is visible to retries; on a real cluster
    * the same proof works per-executor (the retry lands on SOME executor;
    * determinism is what's proven, the map only schedules the failure).
    */
  object FailOnce {
    val fired = new ConcurrentHashMap[String, java.lang.Boolean]()
    def passOrThrowOnce(tag: String): Boolean = {
      val pid = TaskContext.getPartitionId()
      if (FailOnce.fired.putIfAbsent(s"$tag#$pid", true) == null)
        throw new RuntimeException(s"injected task failure $tag#$pid (attempt " +
          s"${TaskContext.get().attemptNumber()})")
      true
    }
  }

  /** Fail-once FETCH registry: the first call per run-tag throws a real
    * `FetchFailedException` against the newest shuffle the current run
    * registered — the scheduler then unregisters that map output, re-runs
    * the map task, and resubmits the reduce stage (the OTHER routine
    * fleet failure beside a dying task: a dying shuffle source). Fired
    * once per tag (not per partition): one fetch-failure event exercises
    * the whole map-stage-regeneration path.
    */
  object FetchFailOnce {
    val fired = new ConcurrentHashMap[String, java.lang.Boolean]()
    def passOrFetchFail(tag: String, preIds: Set[Int]): Boolean = {
      if (FetchFailOnce.fired.putIfAbsent(tag, true) == null) {
        val fresh =
          org.apache.spark.graft.ShuffleFailureInjector.registeredShuffleIds() -- preIds
        // A guessed id (e.g. 0) may be unregistered or belong to an
        // earlier query, and DAGScheduler's shuffleIdToMapStage lookup on
        // a stale id can abort the job instead of retrying it — so if no
        // fresh shuffle exists, fail the proof explicitly as
        // not-exercised (the Outcome's needFetch gate then reports it).
        if (fresh.isEmpty)
          throw new IllegalStateException(
            "retry-proof: no fresh shuffle registered by this run — " +
            "fetch-failure path NOT exercised")
        // max = most recently registered = the shuffle this reduce stage
        // is consuming (AQE materializes stages in dependency order).
        org.apache.spark.graft.ShuffleFailureInjector.throwFetchFailed(fresh.max)
      }
      true
    }
  }

  case class Outcome(name: String, failedTasks: Long, rows: Int,
                     identical: Boolean, needFetch: Boolean = false,
                     fetchFailed: Long = 0) {
    def ok: Boolean =
      failedTasks > 0 && identical && (!needFetch || fetchFailed > 0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.forMain("graft-retry-proof", taskFailures = 3)
    spark.sparkContext.setLogLevel("ERROR")
    val guard = udf((tag: String, _: String) => FailOnce.passOrThrowOnce(tag))
    // The guard must not be constant-folded or pushed past the work it
    // guards: it takes the relation's FIRST column as a real argument, so
    // the predicate is row-level inside the guarded stage by construction
    // (a ScalaUDF is also non-foldable, but the invariant shouldn't rest
    // on that detail alone).
    def guarded(df: DataFrame, tag: String): DataFrame =
      df.filter(guard(lit(tag), col(df.columns.head).cast("string")))

    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val orders = Tables.load(spark, sfDir, "orders")

    // Each case builds its query through `wrap`, applied to the INPUT
    // relation — so the injected failure lands in the MAP-side stage
    // (scan + partial work) and the retry must regenerate shuffle output
    // the downstream stages then consume: the full recompute path a lost
    // node exercises, not just a re-run of the final stage.
    val cases: Seq[(String, (DataFrame => DataFrame) => DataFrame)] = Seq(
      // shuffle join + 2-phase agg
      ("join_agg", wrap =>
        wrap(lineitem).join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))),
      // custom codegen'd MinHash banding + bucket join
      ("minhash", wrap =>
        Dedup.minhashCandidates(wrap(docs), "doc_id", "text")),
      // hash-keyed deterministic sampling (retry must pick the SAME rows)
      ("hash_sample", wrap =>
        Sampling.deterministicSample(wrap(docs), "doc_id", 0.5)),
      // mapPartitions multimodal decode (JVM codec path)
      ("image_decode", wrap =>
        Multimodal.decodeImageFeatures(Multimodal.plantPngs(wrap(docs)))
          .select(col("media_id"), col("width"), col("height"),
            col("pixel_sum"))),
      // 16-bit signed LE audio: plant -> per-channel decimate -> decode,
      // the is16 branch of resampleAudioDecimated — a retried task must
      // regenerate byte-identical signed PCM.
      ("audio16_resample", wrap =>
        Multimodal.decodeAudioFeatures(Multimodal.resampleAudioDecimated(
            Multimodal.plantWavs16(wrap(docs)), 2))
          .select(col("media_id"), col("sample_rate"), col("channels"),
            col("n_frames"), col("amp_sum"))),
      // web front-end: URL canonicalization window (keep-first per
      // canonical) + HTML block extraction joined back — a retried map
      // task must regenerate identical canonical keys and extracted
      // text, or the window picks different survivors.
      ("web_funnel", wrap => {
        import org.apache.spark.sql.expressions.Window
        val d = wrap(docs)
        val canon = Urls.withCanonical(Urls.plantUrls(d, "doc_id"),
          "id", "url")
        val surv = canon.withColumn("rk", row_number().over(
            Window.partitionBy(col("canon_url")).orderBy(col("id"))))
          .filter(col("rk") === 1)
        val ext = Html.blockExtract(
          Html.plantHtml(d, "doc_id", "text"), "id", "html")
        surv.select(col("id"), col("host")).join(ext, "id")
          .select(col("id"), col("host"), col("n_kept"), col("main_chars"))
      }),
      // banded image near-dup: a retried map task must regenerate
      // byte-identical PNGs -> identical dHashes, or band-bucket
      // membership (and the emitted pair set) silently shifts.
      ("dhash_pairs", wrap =>
        ImageHash.nearDupPairs(ImageHash.dhashSignatures(
          Multimodal.plantPngs(wrap(docs))))),
      // WARC framing + bounded record walk: a retried assembly task must
      // produce byte-identical files for the parse output (lengths,
      // payload digests) to be deterministic.
      ("warc_parse", wrap =>
        Warc.parseWarc(Warc.plantWarcs(wrap(docs)))
          .select(col("media_id"), col("rec_idx"), col("warc_type"),
            col("content_length"), md5(col("payload")).as("payload_md5"))),
      // banded audio near-dup: a retried map task must regenerate
      // byte-identical WAVs -> identical energy-delta fingerprints, or
      // band-bucket membership (and the emitted pair set) silently
      // shifts — same contract as dhash_pairs, over the sound stack.
      ("audio_fp_pairs", wrap =>
        AudioHash.nearDupPairs(AudioHash.fingerprints(
          Multimodal.plantWavs16(wrap(docs))))),
      // banded video near-dup: a retried map task must regenerate
      // byte-identical GIF containers -> identical per-frame dHashes ->
      // an identical majority fold, or the temporal fingerprint (and
      // the pair set) silently shifts — the dhash/audio contract over
      // the demux + sequence-fold stack.
      ("video_fp_pairs", wrap =>
        VideoHash.nearDupPairs(VideoHash.fingerprints(
          Multimodal.plantGifsFp(wrap(docs)), everyN = 2))),
      // sub-clip containment: a retried decode task must regenerate
      // byte-identical segment WAVs -> identical WINDOW fingerprints, or
      // the alignment-count containment set silently shifts.
      ("audio_contain", wrap =>
        AudioHash.containmentPairs(AudioHash.windowFingerprints(
          Multimodal.plantWavsSeg(wrap(docs)), 130, 26))),
      // video frame-range containment: same contract over the demux +
      // per-frame dHash stack.
      ("video_contain", wrap =>
        VideoHash.containmentPairs(VideoHash.frameHashes(
          Multimodal.plantGifsSeg(wrap(docs))))),
      // broadcast-codebook PQ encode: a retried scan task re-reads the
      // codebook from the torrent and must reproduce identical codes and
      // bit-identical reconstruction errors.
      ("pq_encode", wrap => {
        val pq = graft.functions.Pq.encode(col("embedding"))
        wrap(Tables.load(spark, sfDir, "embeddings")
            .select(col("vec_id"), col("embedding")))
          .select(col("vec_id"), pq.getField("code").as("c"),
            pq.getField("err").as("e"))
      }),
      // cluster-scoped semantic dedup (round 17): the input feeds BOTH
      // sides of the within-cell self-join; a retried scan task must
      // regenerate identical cells and squared-L2 distances, or the
      // pair set — and therefore the survivor set — silently shifts.
      ("semantic_dedup", wrap => {
        val e = wrap(Tables.load(spark, sfDir, "embeddings")
            .select(col("vec_id"), col("embedding")))
          .filter(col("embedding").isNotNull &&
            size(col("embedding")) >= 64)
          .withColumn("cell",
            pmod(col("vec_id") * lit(2654435761L), lit(16L))
              .cast("bigint"))
        graft.operators.Similarity.semanticDedup(e, tau = 1.5)
      }),
      // image–text pair extraction (round 18): a retried assembly task
      // must regenerate byte-identical paired WARCs -> identical figure
      // srcs, captions and canonical-URL join keys, or the pair set
      // (and every downstream capstone) silently shifts.
      ("pair_extract", wrap => {
        val recs = Warc.responses(Warc.plantPairedWarcs(wrap(docs)))
        val imgs = Warc.withTargetUri(
          ImageHash.dhashSignatures(Warc.mediaPayloads(recs, "image")),
          recs, "image", "image_id", "img_url")
        Html.imageTextPairs(Warc.htmlPages(recs), "page_id", "html",
          imgs, "image_id", "img_url", "decoded")
      }))

    val mapSide = cases.map { case (name, build) =>
      val baseline = build(identity).collect()
      val tag = name + "@" + System.nanoTime()
      val (rows, profile) =
        QueryProfile.of(spark)(build(df => guarded(df, tag)))(_.collect())
      Outcome(name, profile.failedTasks, rows.length,
        rows.length == baseline.length &&
          SpillProof.resultHash(rows) == SpillProof.resultHash(baseline))
    }

    // REDUCE-side injection: the guard filters on an AGGREGATED column, so
    // it cannot be pushed below the exchange and runs inside the stage
    // that READS the shuffle — and instead of a plain error it throws a
    // real FetchFailedException, driving the scheduler's other retry
    // semantics: unregister the map output, re-run the map task, resubmit
    // the reduce stage. A 1000-executor fleet exercises this path on
    // every lost node.
    val fetchSide = {
      val q = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
      val baseline = q.collect()
      val tag = "fetch@" + System.nanoTime()
      val pre = org.apache.spark.graft.ShuffleFailureInjector.registeredShuffleIds()
      val fetchGuard =
        udf((t: String, _: Long) => FetchFailOnce.passOrFetchFail(t, pre))
      val (rows, profile) = QueryProfile.of(spark)(
        q.filter(fetchGuard(lit(tag), col("n"))))(_.collect())
      Outcome("fetch_failed", profile.failedTasks, rows.length,
        rows.length == baseline.length &&
          SpillProof.resultHash(rows) == SpillProof.resultHash(baseline),
        needFetch = true, fetchFailed = profile.fetchFailed)
    }
    // TRAINER injection (round 17): training loops run multiple jobs
    // over the same input; the guard fails every input partition once
    // (the first job that touches it retries, later jobs find the
    // marker), and the trained MODEL must be bit-identical to the
    // unguarded baseline — a lost task during training must not shift a
    // seed, an argmin, a mean, or a selected merge.
    val trainerSide = {
      val e = Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val kmBase = graft.functions.KMeans
        .train(e, "vec_id", "embedding", k = 16, dim = 64, iters = 2)
      val kmTag = "km_train@" + System.nanoTime()
      val (kmGot, kmProfile) = QueryProfile.of(spark)(
        graft.functions.KMeans.train(guarded(e, kmTag),
          "vec_id", "embedding", k = 16, dim = 64, iters = 2))(identity)
      val km = Outcome("km_train", kmProfile.failedTasks, kmGot.centroids.length,
        kmGot.centroids.sameElements(kmBase.centroids) &&
          kmGot.inertia == kmBase.inertia)
      val vocab = graft.operators.BpeTrain.wordVocab(docs, col("text"))
      val bpeBase = graft.operators.BpeTrain.train(vocab, 4)
      val bpeTag = "bpe_train@" + System.nanoTime()
      val (bpeGot, bpeProfile) = QueryProfile.of(spark)(
        graft.operators.BpeTrain.train(
          graft.operators.BpeTrain.wordVocab(guarded(docs, bpeTag),
            col("text")), 4))(identity)
      val bpe = Outcome("bpe_train", bpeProfile.failedTasks, bpeGot.merges.length,
        bpeGot.merges == bpeBase.merges)
      Seq(km, bpe)
    }
    val outcomes = (mapSide ++ trainerSide) :+ fetchSide

    println(f"${"case"}%-14s ${"failed_tasks"}%12s ${"rows"}%8s  identical")
    outcomes.foreach { o =>
      println(f"${o.name}%-14s ${o.failedTasks}%12d ${o.rows}%8d  " +
        (if (o.identical) "yes" else "NO") +
        (if (o.needFetch) s"  (fetch_failed=${o.fetchFailed})" else "") +
        (if (o.ok) "" else "  <- FAIL"))
    }
    val bad = outcomes.filterNot(_.ok)
    println(s"[retry-proof] ${outcomes.size - bad.size}/${outcomes.size} ok " +
      s"(master=${spark.sparkContext.master}, sf=$sfDir)")
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
