package graft

import org.apache.spark.sql.SparkSession
import graft.Fixtures.workDir

/** Benchmark contract: runs headline queries on
  * `sys.env("SPARK_GRAFT_SF_DIR")` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Protocol (BASELINE.md): a warm pass first (JIT + page cache), then a
  * timed pass per query. Headline set spans the operator families: scan,
  * agg, shuffle join, broadcast join, order/limit, rank, flatten, top-k,
  * minhash dedup, cosine top-k, fingerprint, event-time window.
  *
  * What is timed is `SparkEntry.timed(name)`: the query's operator
  * story, defined once in [[SparkEntry]]. For most queries that is the
  * correctness entry itself; where the entry adds a check (a recall
  * harness, a law probe, `require`s around a stream), it is the run half
  * the entry calls, without the check. Inputs a story derives from the
  * data dir (stream sources, saved indexes and models) come from the
  * on-disk [[Fixtures]] cache, built in the warm pass at the latest, so
  * timed runs pay for the story, not for its fixtures. Bench itself
  * defines no query.
  *
  * Every timed run is profiled ([[QueryProfile]]); the median run's
  * profile of each query goes to `bench/results.json` as
  * `profiles.<query>`.
  */
object Bench {

  /** The 12 queries whose first green run was pinned as BASELINE
    * (BASELINE.md protocol). Their sum is emitted as its own field so
    * baseline comparability never depends on prose arithmetic over a
    * headline set that grows round over round. */
  val baselineSubset: Seq[String] = Seq(
    "q01_scan_filter_project", "q03_group_agg", "q05_join_agg",
    "q06_join_broadcast", "q14_order_limit", "q17_rank",
    "q21_flatten_tokenize", "q23_top_per_group", "q35_dedup_minhash",
    "q39_cosine_topk", "q44_fingerprint", "q47_window_tumbling")

  val headline: Seq[String] = baselineSubset ++ Seq(
    // LLM-pipeline heavies (round 5+): TF-IDF, epoch shuffle, seq pack,
    // bigram perplexity, temperature mixture
    "q100_tfidf", "q101_epoch_shuffle", "q104_seq_pack",
    "q107_bigram_ppl", "q108_temperature_mix",
    // late round 5: footer-pruned sparse lookup, incremental dedup
    "q122_sparse_lookup", "q125_incremental_dedup",
    // round 6: Gopher repetition kernel, SemDeDup, cross-doc 5-grams,
    // hashed-feature quality classifier
    "q134_gopher_rep", "q135_semdedup", "q137_crossdoc_repeats",
    "q139_hash_classifier",
    // round 7: exact bignum aggregation (typed-BigDecimal buffer +
    // carrier-unwrap optimizer rule), exact-substring span dedup
    "q133_biginteger_agg", "q146_verbatim_spans",
    // round 8: span REMOVAL, Misra-Gries heavy hitters (+ hot
    // n-grams), token budgets
    "q148_span_removal", "q149_heavy_hitters", "q150_token_budget",
    "q152_hot_ngrams",
    // round 9: IVF-PQ ANN (train+encode+ADC+refine), HLL mergeable
    // distinct sketches, DSIR importance weights
    "q154_ann_ivfpq", "q155_hll_distinct", "q156_importance_weights",
    // round 10: CCNet passage dedup, incremental agg maintenance,
    // integer-exact PageRank, KMV sketches (serving shape below),
    // z-order keys, upsampling, split, funnel
    "q165_chunk_dedup", "q166_incremental_agg", "q167_pagerank",
    "q168_kmv_overlap", "q169_zorder_key", "q170_upsample_repeat",
    "q171_leakage_safe_split", "q172_curation_funnel",
    "q174_pca_whiten", "q175_merge_upsert",
    // round 10 (late): SCD2 versioning, DQ suite, PPS sampling,
    // snapshot diff. q179 compaction is excluded for the q169 reason:
    // it times tmp-dir write IO, not an operator dataflow (its
    // scan/shuffle shape is plan-asserted and receipt-checked instead)
    "q176_scd2_history", "q177_dq_report", "q178_pps_sample",
    "q181_snapshot_diff", "q182_distinctive_terms", "q183_skew_profile",
    "q184_equidepth_hist", "q185_distribution_drift", "q186_asof_snapshot",
    "q187_governed_promotion", "q188_zorder3_key", "q190_pit_join",
    // round 11: ANN serving from a persisted index (load + probe +
    // refine — the "train once, serve many" path), incremental BPE
    // training at 256 merges, batched multimodal embed, tokenizer
    // serving (load merges + full-corpus encode). q192/q195
    // (versioned-table commits) are excluded for the q179 reason:
    // they time tmp-dir parquet writes, not an operator dataflow (the
    // CAS and manifest reads are spec- and require()-checked instead)
    "q191_ann_index_persist", "q193_bpe_train_fast", "q194_multimodal_embed",
    "q196_bpe_model_serve",
    // round 12: PigMix corpus representatives — each timed run pays the
    // FULL front-end (parse + typecheck + compile to DataFrame) plus
    // execution, so a compiler-plan regression (e.g. a lost combiner in
    // the nested-FOREACH lowering) shows up here, not just in plan
    // specs. L1 = explode->regroup over documents, L7 = wide multi-agg
    // over lineitem (the largest table), L16 = nested top-k flatten.
    "q202_pigmix_l01", "q208_pigmix_l07", "q217_pigmix_l16",
    // round 13: L12 multi-output variant — three STOREs over one scan
    // via the shared-scan (MultiQueryOptimizer) policy. Timed against
    // q213 (single-store L12): the pin keeps it ~1x, not ~3x.
    "q230_pigmix_l12_multistore")

  /** Per-query regression pins: each query's BEST recorded driver
    * median at sf0.1. A timed median above 2× its pin lands in the
    * JSON's "regressed" list, so a single-query 3× slide can never
    * hide inside a green total (the motivating case: q17 crept
    * 0.985→1.138 across two driver runs with no plan change; the
    * decisive one: r15's q167 read 11.71 vs its 4.28 best on
    * UNCHANGED code and no pin existed to flag it). Round 16 applies
    * the BASELINE.md first-green-run protocol uniformly — EVERY
    * benched query now carries a pin (VERDICT r15 #1): previously
    * unpinned queries adopt their best recorded driver median
    * (r15's full per-query record, or the r14 driver value where it
    * was better); q167 adopts this round's isolated quiet-load median
    * (4.10 s — raw 3.83/3.99/4.10/4.30/5.93 at loadavg 0.0, which
    * attributes r15's 11.71 to session/co-tenant load, not code).
    * Pins only apply when the bench dir is the driver's sf0.1. */
  val pinsSf01: Map[String, Double] = Map(
    // the BASELINE-12 + early heavies (pinned since r9, tightened
    // wherever a later driver run beat the stored best — r15 beat
    // q01/q03/q23/q35/q39)
    "q01_scan_filter_project" -> 0.139, "q03_group_agg" -> 0.200,
    "q05_join_agg" -> 0.559, "q06_join_broadcast" -> 0.453,
    "q14_order_limit" -> 0.124, "q17_rank" -> 0.820,
    "q21_flatten_tokenize" -> 0.270, "q23_top_per_group" -> 0.328,
    "q35_dedup_minhash" -> 0.468, "q39_cosine_topk" -> 0.386,
    "q44_fingerprint" -> 0.109, "q47_window_tumbling" -> 0.186,
    // q146 deliberately NOT tightened (r14 rationale stands): two
    // back-to-back local runs measured 1.05 and 2.53 medians on
    // identical code (bimodal host behavior on the string-heavy span
    // kernel) — a pin from the good mode would flag the bad mode as a
    // phantom regression.
    "q133_biginteger_agg" -> 0.529, "q146_verbatim_spans" -> 1.100,
    "q152_hot_ngrams" -> 1.164,
    // round-16 uniform adoption: first/best recorded driver medians
    "q100_tfidf" -> 0.673, "q101_epoch_shuffle" -> 0.230,
    "q104_seq_pack" -> 0.130, "q107_bigram_ppl" -> 1.061,
    "q108_temperature_mix" -> 0.428, "q122_sparse_lookup" -> 0.480,
    "q125_incremental_dedup" -> 0.732, "q134_gopher_rep" -> 0.110,
    "q135_semdedup" -> 0.431, "q137_crossdoc_repeats" -> 0.189,
    "q139_hash_classifier" -> 0.161, "q148_span_removal" -> 0.258,
    "q149_heavy_hitters" -> 0.883, "q150_token_budget" -> 0.464,
    "q154_ann_ivfpq" -> 2.256, "q155_hll_distinct" -> 0.305,
    "q156_importance_weights" -> 0.190, "q165_chunk_dedup" -> 0.148,
    "q166_incremental_agg" -> 0.421,
    // isolated quiet-load median this round (see scaladoc); r14's
    // driver run read 4.28 on the same code family
    "q167_pagerank" -> 4.100,
    "q168_kmv_overlap" -> 0.499, "q169_zorder_key" -> 0.198,
    "q170_upsample_repeat" -> 0.230, "q171_leakage_safe_split" -> 0.160,
    "q172_curation_funnel" -> 0.713, "q174_pca_whiten" -> 1.485,
    "q175_merge_upsert" -> 0.366, "q176_scd2_history" -> 0.390,
    "q177_dq_report" -> 0.724, "q178_pps_sample" -> 0.672,
    "q181_snapshot_diff" -> 0.405, "q182_distinctive_terms" -> 0.436,
    "q183_skew_profile" -> 0.183, "q184_equidepth_hist" -> 1.709,
    // q185 KEPT at r14's 1.96 (round 17, VERDICT r16 #1): the r16
    // driver's 2.63 was in-session pressure, not growth — the isolated
    // quiet-load phase probe (tools/DriftPhases) read full=1.844
    // (UNDER the pin; raw 1.78-2.03), split rank-histogram 1.89 /
    // binning 0.41 — the two-pass exact rank is ~80% of the query and
    // the piece that inflates under co-tenant shuffle load.
    "q185_distribution_drift" -> 1.960, "q186_asof_snapshot" -> 0.700,
    "q187_governed_promotion" -> 2.760, "q188_zorder3_key" -> 0.161,
    "q190_pit_join" -> 0.450, "q191_ann_index_persist" -> 3.583,
    "q193_bpe_train_fast" -> 0.654, "q194_multimodal_embed" -> 0.165,
    "q196_bpe_model_serve" -> 0.460, "q202_pigmix_l01" -> 0.382,
    "q208_pigmix_l07" -> 0.183, "q217_pigmix_l16" -> 1.680,
    "q230_pigmix_l12_multistore" -> 1.120)

  /** Streaming replay pins (round 11, VERDICT r10 #6): best recorded
    * driver medians at sf0.1 (r10's run beat r8 on every common
    * query, so these are the r10 numbers). Replay wall-time carries
    * the checkpoint/sink I/O documented in the streaming-section
    * comment, and the r8→r10 record shows ±30% load drift on
    * untouched queries — so the 2× gate plus the loadavg field is the
    * attribution recipe, same as the batch pins. */
  val streamPinsSf01: Map[String, Double] = Map(
    // q136/q158/q173/q180 re-pinned r14; q136/q145/q112/q253
    // re-pinned r15 from the round's full local run (q253's drop
    // 6.220 → 4.546 reflects the manifest-cache commit path — its
    // replay is commit-heaviest: two drains + two merges + a rename)
    "q136_stream_interval_join" -> 2.856,
    // q138/q144 RE-BASED round 17 (VERDICT r16 #1) from isolated
    // quiet-load medians (loadavg <1, fresh JVM, clean /tmp, phase
    // split on): q138 raw 7.03/6.74/5.57 → 6.74; q144 2.80/2.74/2.70
    // → 2.74. The r10-era pins (4.614/2.442) are unreachable on the
    // current host: the growth localizes to PER-BATCH STATE-STORE
    // COMMIT I/O (tools/StreamJoinProbe per-batch receipts: every
    // batch — even rows=0 watermark batches — pays ~3.0-3.6 s
    // task-summed commitMs across the join's 32 store instances at 8
    // shuffle partitions; 4 batches per two-drain replay), NOT code
    // (state rows 39947 / sink rows 19866 byte-identical to the pin
    // era, plan unchanged), NOT load (reproduces at loadavg 0.7), NOT
    // suite accumulation (fresh-JVM isolated ≈ in-session), NOT /tmp
    // buildup (cleanup moved the median 7.13 → 6.74, within noise).
    // Halving store count (4 partitions) cuts commitMs 2× but wall
    // <10% — the cost is the per-batch I/O latency floor, an
    // environment price. The permanent streaming_phases fields in
    // bench/results.json make any FUTURE drift attributable without
    // this rerun.
    // RocksDB A/B receipt (round 18, VERDICT r17 #1 — the probe that
    // turns the r17 "environment price" into an engineering answer):
    // the family ran under RocksDB + changelog checkpointing (set
    // through Spark's spark.sql.streaming.stateStore.providerClass)
    // vs the HDFS default, sf0.1, 2 bracketed pairs. NO GAIN —
    // RocksDB was 5-15% SLOWER (family 23.3→26.8 s; q138 6.25→6.91,
    // q144 2.94→3.71, q151 5.99→6.48; state task-sum ROSE, q138
    // 21.6→25.0 s): at local-fs checkpoint latency the JNI boundary +
    // changelog round trips cost more than the small-state snapshots
    // they replace. The pins stay; the provider stays HDFS for the
    // harness, and a remote-checkpoint deployment sets that Spark
    // key itself (SCALE.md).
    "q138_stream_outer_join" -> 6.740,
    "q144_stream_right_outer_join" -> 2.740,
    // q145 re-based the same round for the same measured cause: the
    // FULL outer join carries the family's largest store workload
    // (both sides' state scanned for the unmatched flush), so the
    // per-batch commit-I/O floor hits it hardest — r17 in-session
    // driver-shaped run read 9.88 (2.08x the r10 pin, state task-sum
    // 49.7 s under loadavg 3.8); isolated quiet-load raw
    // 7.07/6.24/5.92 with state 23.2 s → pinned at the 6.24 median.
    "q145_stream_full_outer_join" -> 6.240,
    "q112_stream_state" -> 1.655,
    "q151_stream_dedup_agg" -> 4.145,
    // q158 RE-BASED round 18 with a SHAPE change: the bench now times
    // the operator story (fixture + one stream drain) instead of the
    // correctness harness (which recomputed the batch truth and ran
    // two equality joins — the floor-dominated 6.863 the r17 verdict
    // called out). Local quiet-load median 4.59 (raw 5.10/4.59/4.24,
    // floor 4.89 → 0.66); adopt the first driver median next round if
    // it reads lower.
    "q158_stream_near_dup" -> 4.590,
    "q173_stream_export" -> 2.210, "q180_stream_scd2" -> 2.519,
    "q189_stream_dq" -> 1.571,
    // round 13 first record (table change stream, local run)
    "q235_table_change_stream" -> 4.822,
    // round 14 first record (stream across a rename, local run) — two
    // full drains + two merges + the rename inside one replay
    "q253_stream_across_rename" -> 4.546,
    // round-16 uniform adoption: best driver median (r14 6.864 / r15
    // 6.472) — the last benched query without a pin
    "q197_ann_stream_ingest" -> 6.472)

  /** Per-replay PHASE pins (round 18, VERDICT r17 #2 — "gate on
    * phases, not just wall"): pinned (commit + sink) seconds PER
    * MICRO-BATCH from the r17 driver artifact's streaming_phases rows
    * (bench/results_r17.json). This is the component a state-store
    * commit-I/O drift inflates FIRST — and after the r17 wall re-pins
    * doubled the 2× ceilings (q138's wall gate is now 13.5 s), a
    * commit-floor drift could hide inside the wall gate for rounds.
    * A replay now lands in `regressed` (tagged "(phase)") when its
    * median run's (commit+sink)/batches exceeds 2× this pin, wall
    * notwithstanding. Only these two phases gate: `state` is
    * task-summed across partitions (parallel time, not wall) and
    * `floor` is session/fixture cost, both load-shaped. */
  val streamPhasePinsSf01: Map[String, Double] = Map(
    "q136_stream_interval_join" -> 1.019,
    "q138_stream_outer_join" -> 0.919,
    "q144_stream_right_outer_join" -> 0.643,
    "q145_stream_full_outer_join" -> 0.887,
    "q112_stream_state" -> 0.901,
    "q151_stream_dedup_agg" -> 0.682,
    // re-based with the r18 shape change (commit 0.08 + sink 3.58,
    // one batch — the sink now carries the whole in-stream banding)
    "q158_stream_near_dup" -> 3.660,
    "q173_stream_export" -> 0.439,
    "q180_stream_scd2" -> 0.587,
    "q189_stream_dq" -> 0.303,
    "q197_ann_stream_ingest" -> 0.290,
    "q235_table_change_stream" -> 0.260,
    "q253_stream_across_rename" -> 0.241)

  /** Streaming replays timed as their own section (never in the
    * headline total — see main): watermarked interval-join family,
    * typed transformWithState. */
  val streamingSet: Seq[String] = Seq(
    "q136_stream_interval_join", "q138_stream_outer_join",
    "q144_stream_right_outer_join", "q145_stream_full_outer_join",
    "q112_stream_state",
    // round 8: chained stateful operators (dedup -> windowed agg)
    "q151_stream_dedup_agg",
    // round 9: streaming MinHash-LSH near-dup (typed band-owner state)
    "q158_stream_near_dup",
    // round 10: exactly-once shard export (restart + idempotence probe)
    "q173_stream_export",
    // round 10 (late): streaming SCD2 snapshot maintenance and
    // streaming DQ metric accumulation (restart + no-new-data
    // replays, like q173)
    "q180_stream_scd2", "q189_stream_dq",
    // round 11: streaming ANN-index ingest (frozen persisted model,
    // exactly-once codes_delta, serve-over-deltas equality probe)
    "q197_ann_stream_ingest",
    // round 13: versioned table as a streaming source — bootstrap +
    // merge feed through one run, then a DV delete through a RESTART
    // of the same checkpoint (replays nothing, require()'d in-entry)
    "q235_table_change_stream",
    // round 14: the change stream consumed ACROSS a metadata-only
    // RENAME through one checkpoint (sticky physical names)
    "q253_stream_across_rename")

  /** A replay's floor: its wall time outside every micro-batch
    * (session setup, fixture links, query start and stop, gaps between
    * batches). */
  private def floorOf(wall: Double, p: QueryProfile): Double =
    math.max(0.0, wall - p.triggerMs / 1e3)

  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_BENCH_ONLY=q39_cosine_topk,q35_dedup_minhash narrows the
    // set for profiling a single query without touching the contract.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // a name outside both benched sets would be dropped without a word
    val unknown = only.toSeq.flatten.filterNot((headline ++ streamingSet).contains).sorted
    if (unknown.nonEmpty) {
      System.err.println("[bench] SPARK_GRAFT_BENCH_ONLY names queries the " +
        s"bench does not run: ${unknown.mkString(",")}")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val qs = headline.filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_.contains(n)))

    // Co-tenant load is the main measurement hazard on this host (two
    // rounds of phantom "regressions" were concurrent driver JVMs):
    // record the 1/5/15-min load averages so a noisy run is attributable
    // from the log instead of mis-read as a structural slowdown.
    def logLoad(tag: String): Unit =
      try System.err.println(s"[bench] loadavg $tag: " +
        java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).trim)
      catch { case _: Throwable => () }
    logLoad("start")

    // Warm pass: JIT, codegen caches, OS page cache for the parquet.
    // Jobs are labeled (guide §1.5) so an event-log/UI profile
    // attributes every stage to its query without timeline guessing.
    qs.foreach { name =>
      System.err.println(s"[bench] warm $name")
      spark.sparkContext.setJobDescription(s"bench-warm:$name")
      try SparkEntry.timed(name)(spark, sfDir).count()
      catch { case e: Throwable => System.err.println(s"[bench] warm $name failed: ${e.getMessage}") }
    }
    spark.sparkContext.setJobDescription(null)

    // One profiled timed run: (wall seconds, ok, profile). The clock
    // stops inside the profiled body, before the listener bus drains.
    def timedRun(name: String, tag: String): (Double, Boolean, QueryProfile) = {
      val ((wall, ok), prof) = QueryProfile.measure(spark) {
        val t0 = System.nanoTime()
        val ok =
          try { SparkEntry.timed(name)(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $tag$name timed run FAILED: $e"); false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      (wall, ok, prof)
    }

    // Median of 5 timed runs per query: the sandbox host stalls for
    // 10–25 s at random (round-1 recorded a 19 s median on a 1 s query
    // when 2 of 3 runs landed in one stall); 5 runs need 3 poisoned
    // runs to corrupt the median. A GC between queries keeps one
    // query's garbage out of the next query's measurement.
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    // A failed run's time-to-failure is NOT a measurement: failures are
    // logged with the exception, excluded from the median, and queries
    // with zero successful runs land in the JSON's "failed" list so a
    // broken query can never report a plausible number.
    val failedQueries = scala.collection.mutable.ListBuffer[String]()
    val results = qs.flatMap { name =>
      System.gc()
      spark.sparkContext.setJobDescription(s"bench:$name")
      val raw = (1 to nRuns).map(_ => timedRun(name, ""))
      spark.sparkContext.setJobDescription(null)
      // raw (temporal) order exposes within-session drift; sorted order
      // is what the median is read from
      System.err.println(f"[bench] $name raw=${raw.map(t => f"${t._1}%.2f" + (if (t._2) "" else "!")).mkString(",")}")
      val good = raw.filter(_._2).sortBy(_._1)
      System.err.println(f"[bench] $name times=${good.map(t => f"${t._1}%.2f").mkString(",")}")
      if (good.isEmpty) { failedQueries += name; None }
      else { val (wall, _, p) = good(good.length / 2); Some((name, wall, p)) }
    }
    logLoad("end")
    val qjson = results.map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // both sums pinned as fields: the BASELINE-comparable 12-query
    // subset and the full headline, so the 2x gate reads directly
    val base12 = results.filter(r => baselineSubset.contains(r._1)).map(_._2).sum

    // Streaming section (round 7): end-to-end REPLAY wall-times for the
    // streaming surface — micro-batch execution + sentinel flush where
    // the query has one. Kept OUT of the headline total: replay time is
    // dominated by checkpoint/sink I/O round trips, a different quantity
    // than the per-query compute the BASELINE protocol pins. 1 warm
    // (JIT, fixture build) + 3 timed, median; each run links the cached
    // source fixtures into fresh temp source/sink/checkpoint dirs, so
    // runs are independent full replays.
    val streamQs = streamingSet.filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_.contains(n)))
    // Replay FLOOR (round 12, VERDICT r11 #9): the fixed cost of one
    // micro-batch replay that does no work — fresh source/checkpoint/
    // sink dirs, a 1-row parquet source, identity projection, parquet
    // sink, AvailableNow. Everything above this number in a streaming
    // median is the query's own state/shuffle/sink cost; the floor
    // itself is session + offset-log + commit-log + sink I/O round
    // trips. Emitted per artifact so "q158 is 10.6 s" is readable as
    // "~1 floor + 9-something of near-dup state work" without a
    // profiling session. Median of 3, measured only when the
    // streaming section runs.
    val streamFloor: Double = if (streamQs.isEmpty) -1.0 else {
      def oneFloor(): Double = {
        val tmp = workDir("bench_floor_")
        val t0 = System.nanoTime()
        val ss = graft.streaming.EventsStreaming.replaySession(spark)
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(StructField("k", LongType)))
        spark.range(1).toDF("k").coalesce(1)
          .write.mode("overwrite").parquet(s"$tmp/src")
        val q = ss.readStream.schema(schema).parquet(s"$tmp/src")
          .writeStream.format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }
      oneFloor() // warm (JIT + state-store class loading)
      val fs = (1 to 3).map(_ => oneFloor()).sorted
      System.err.println(f"[bench] stream floor times=${fs.map(t => f"$t%.2f").mkString(",")}")
      fs(fs.length / 2)
    }
    // Per-replay PHASE SPLIT (round 17, VERDICT r16 #1/#7): the
    // median-wall run's profile rides into bench/results.json as
    // streaming_phases so a q138-shaped drift is attributable from
    // the artifact alone — floor (wall − Σ triggerExecution: session +
    // fixture + start/stop), commit (offset/commit-log I/O), state
    // (task-summed store time), sink (Σ addBatch: execution incl. the
    // sink write), batches.
    val streamResults = streamQs.flatMap { name =>
      System.err.println(s"[bench] stream warm $name")
      spark.sparkContext.setJobDescription(s"bench-stream:$name")
      try SparkEntry.timed(name)(spark, sfDir).count()
      catch { case e: Throwable => System.err.println(s"[bench] stream warm $name failed: ${e.getMessage}") }
      val raw = (1 to 3).map { _ => System.gc(); timedRun(name, "stream ") }
      System.err.println(f"[bench] stream $name raw=${raw.map(t => f"${t._1}%.2f" + (if (t._2) "" else "!")).mkString(",")}")
      val good = raw.filter(_._2).sortBy(_._1)
      if (good.isEmpty) { failedQueries += name; None }
      else {
        val (wall, _, ph) = good(good.length / 2)
        System.err.println(
          f"[bench] stream $name phases floor=${floorOf(wall, ph)}%.2f commit=${ph.commitMs / 1e3}%.2f " +
            f"state=${ph.stateMs / 1e3}%.2f sink=${ph.addBatchMs / 1e3}%.2f batches=${ph.batches}")
        Some((name, wall, ph))
      }
    }
    // clear the last stream query's label (batch loops clear per-query;
    // without this every post-stream job inherits the final label)
    spark.sparkContext.setJobDescription(null)
    val sjson = streamResults.map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val sphjson = streamResults.map { case (k, wall, ph) =>
      "\"" + k + "\":{" +
        f""""wall":$wall%.3f,"floor":${floorOf(wall, ph)}%.3f,"commit":${ph.commitMs / 1e3}%.3f,""" +
        f""""state":${ph.stateMs / 1e3}%.3f,"sink":${ph.addBatchMs / 1e3}%.3f,"batches":${ph.batches}%d}"""
    }.mkString("{", ",", "}")
    val pjson = (results ++ streamResults).map { case (k, _, p) => "\"" + k + "\":" + p.json }
      .mkString("{", ",", "}")
    val stotal = streamResults.map(_._2).sum
    val fjson = failedQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    // A failed member query must make its aggregate UNMISTAKABLY
    // broken, not smaller: summing only the survivors would report a
    // phantom speedup to any consumer that doesn't parse `failed`.
    val headlineBroken = failedQueries.exists(qs.contains)
    val streamingBroken = failedQueries.exists(streamQs.contains)
    val totalOut = if (headlineBroken) -1.0 else total
    val base12Out =
      if (failedQueries.exists(baselineSubset.contains)) -1.0 else base12
    val stotalOut = if (streamingBroken) -1.0 else stotal
    // per-query 2x pins (only meaningful at the driver's sf0.1 — the
    // pinned medians were recorded there); load context rides along so
    // a pin breach under co-tenant load is attributable from the
    // artifact itself, not just the stderr log
    val pinned = if (sfDir.contains("sf0.1")) pinsSf01 else Map.empty[String, Double]
    val sPinned =
      if (sfDir.contains("sf0.1")) streamPinsSf01 else Map.empty[String, Double]
    val sPhasePinned =
      if (sfDir.contains("sf0.1")) streamPhasePinsSf01
      else Map.empty[String, Double]
    val regressed = results.collect {
      case (k, v, _) if pinned.get(k).exists(p => v > 2 * p) => k
    } ++ streamResults.collect {
      case (k, v, _) if sPinned.get(k).exists(p => v > 2 * p) => k
    } ++ streamResults.collect {
      // the PHASE gate (round 18, VERDICT r17 #2): a commit+sink
      // per-batch breach trips even when wall stays inside its gate
      case (k, _, ph) if ph.batches > 0 && sPhasePinned.get(k)
          .exists(p => (ph.commitMs + ph.addBatchMs) / 1e3 / ph.batches > 2 * p) =>
        s"$k(phase)"
    }
    val rjson = regressed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // pin-coverage receipt (round 16): a benched query without a pin
    // is a query `regressed` is BLIND to — r15's q167 slid 2.7× behind
    // exactly this gap. Non-empty only when a new query was benched
    // before its first pin landed; the round discipline is to adopt
    // its first driver median next round.
    val unpinned =
      if (!sfDir.contains("sf0.1")) Seq.empty
      else results.map(_._1).filterNot(pinsSf01.contains) ++
        streamResults.map(_._1).filterNot(streamPinsSf01.contains) ++
        streamResults.map(_._1).filterNot(streamPhasePinsSf01.contains)
          .map(_ + "(phase)")
    val ujson = unpinned.map("\"" + _ + "\"").mkString("[", ",", "]")
    val loadavg =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .trim.split(" ").take(3).mkString(" ")
      catch { case _: Throwable => "" }
    // Per-replay mean (round 12, VERDICT r11 #9): the streaming-section
    // total grows every time a query is ADDED, so round-over-round
    // section totals aren't comparable; seconds-per-replay is. Read
    // with streaming_floor_sec: per-replay minus floor is the average
    // real state/sink work per replay.
    val perReplayOut =
      if (streamingBroken || streamResults.isEmpty) -1.0
      else stotal / streamResults.size
    val line = f"""{"metric":"total","value":$totalOut%.3f,"unit":"sec","baseline12_sec":$base12Out%.3f,"headline_sec":$totalOut%.3f,"queries":$qjson,"streaming_sec":$stotalOut%.3f,"streaming_per_replay_sec":$perReplayOut%.3f,"streaming_floor_sec":$streamFloor%.3f,"streaming":$sjson,"streaming_phases":$sphjson,"profiles":$pjson,"failed":$fjson,"regressed":$rjson,"unpinned":$ujson,"loadavg":"$loadavg","sf":"$sfDir"}"""
    // The PRINTED line must survive the driver's bounded tail capture
    // (every BENCH_r{1..14}.json arrived parsed=null: the line carried
    // an sbt "[info] " prefix and/or overflowed the ~2000-char tail
    // window). Three defenses: (a) build.sbt routes forked-run output
    // through StdoutOutput, so no logger prefix is ever added; (b) the
    // stdout record is ULTRA-compact — totals + failed/regressed +
    // loadavg only, well under the window even with noise around it;
    // (c) it prints AFTER spark.stop(), so Spark shutdown logging
    // cannot land after it. Full per-query dicts live in
    // bench/results.json, which the record points at.
    val compact = f"""{"metric":"total","value":$totalOut%.3f,"unit":"sec","baseline12_sec":$base12Out%.3f,"headline_sec":$totalOut%.3f,"streaming_sec":$stotalOut%.3f,"streaming_per_replay_sec":$perReplayOut%.3f,"streaming_floor_sec":$streamFloor%.3f,"failed":$fjson,"regressed":$rjson,"unpinned":$ujson,"loadavg":"$loadavg","sf":"$sfDir","full":"bench/results.json"}"""
    // standalone artifact (BASELINE.md): the FULL per-query record —
    // survives any driver-side tail-parsing change
    try {
      val dir = java.nio.file.Paths.get("bench")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("results.json"), line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench/results.json: $e") }
    spark.stop()
    println(compact)
    Console.out.flush()
    // Output is flushed; exit explicitly so a stray non-daemon thread
    // can never hang the forked JVM and stall the driver's bench.
    sys.exit(0)
  }
}
