package graft

/** Shuffle-budget assertions: the number of shuffle exchanges in the
  * FINAL adaptive plan is the property that decides 100 TB behavior —
  * a regression that adds an exchange to a hot query should fail CI,
  * not surface as a mystery slowdown at scale.
  *
  * Counts are UPPER BOUNDS on [[functions.PlanGuard.shuffles]] after
  * execution (AQE may reuse or elide, never add).
  */
class ShuffleBudgetSpec extends SparkSpec {

  private def check(name: String, budget: Int)(
      mk: => org.apache.spark.sql.DataFrame): Unit =
    test(s"$name stays within its shuffle budget of $budget") {
      val n = functions.PlanGuard.shuffles(mk)
      assert(n <= budget, s"$name now has $n shuffles (budget $budget)")
    }

  check("q1_agg", 1)(operators.Relational.q1Agg(spark, sfDir))
  check("q6_forecast", 1)(operators.Relational.q6Forecast(spark, sfDir))
  check("sessionize", 1)(operators.EventOps.sessionize(spark, sfDir))
  check("collab_pairs", 2)(operators.Analytics.collabPairs(spark, sfDir))
  check("dedup_exact", 1)(operators.Dedup.dedupExact(spark, sfDir))
  check("retention_cohorts", 3)(operators.EventOps.retentionCohorts(spark, sfDir))
  check("q9_profit", 2)(operators.RelationalExt.q9Profit(spark, sfDir))
  check("q16_supplier_cnt", 2)(operators.RelationalExt.q16SupplierCnt(spark, sfDir))
  // The check_DWH dim builders: publish_sn is a pure per-row projection
  // (ZERO shuffles — a scan-project pipeline at any SF); pub_version is
  // one window shuffle by pid; affiliation/license collapse to one tiny
  // aggregation after broadcast joins.
  check("dwh_dim_publish_sn", 0)(operators.Dwh.dimPublishSn(spark, sfDir))
  check("dwh_dim_pub_version", 1)(operators.Dwh.dimPubVersion(spark, sfDir))
  check("dwh_dim_author_affiliation", 1)(operators.Dwh.dimAuthorAffiliation(spark, sfDir))
  check("dwh_dim_license", 1)(operators.Dwh.dimLicense(spark, sfDir))
  // gopher_rules is a pure per-row rule projection — scan speed, ZERO
  // shuffles at any SF.
  check("gopher_rules", 0)(operators.TextAnalysis.gopherRules(spark, sfDir))
  // badwords_flag: the lexicon gate is one regexp_count against a
  // constant alternation — scan speed, ZERO shuffles; the lexicon never
  // becomes a join side.
  check("badwords_flag", 0)(operators.Toxicity.badwordsFlag(spark, sfDir))
  // badwords_source_report: the doc_id-keyed join of the two scan-speed
  // projections (two exchanges at real scale — not pinned to the AQE
  // broadcast that may elide one here) + the per-source aggregate.
  check("badwords_source_report", 3)(
    operators.Toxicity.badwordsSourceReport(spark, sfDir))
  // pii_scrub with the validated classes stays a pure per-row
  // extract-validate-replace projection — still ZERO shuffles.
  check("pii_scrub", 0)(operators.TextAnalysis.piiScrub(spark, sfDir))
  // mix_rebalance: the corpus never shuffles — one tiny per-source count
  // aggregate and its single-row total twin broadcast back onto a
  // scan-speed filter. Budget = exactly those two small aggregates.
  check("mix_rebalance", 2)(operators.Sampling.mixRebalance(spark, sfDir))
  // sample_temperature: the corpus is scanned ONCE — the per-lang count
  // (and its exchange) lives in the eager checkpoint job; the plan here
  // is the one-row min over the checkpointed counts plus the scan-speed
  // filter. The corpus never shuffles.
  check("sample_temperature", 2)(operators.Sampling.sampleTemperature(spark, sfDir))
  // contamination_report: the bench shingle side broadcasts, so the
  // corpus-wide join is map-side; budget = the per-(bench, corpus-doc)
  // pair aggregate + the per-bench rollup + the final |bench|-sized
  // report join (a real shuffle join at 100 TB bench sizes — not pinned
  // to the AQE broadcast that elides it at test scale).
  check("contamination_report", 4)(operators.Dedup.contaminationReport(spark, sfDir))
  // ann_refine: probe fan-out rides the broadcast query side; the only
  // exchange is the per-query top-k window partitioning.
  check("ann_refine", 1)(operators.Similarity.annRefine(spark, sfDir))
  // skew_diagnose: per profiled key, the per-key counts checkpoint (the
  // groupBy exchange lives in that job) and the final plan folds stats
  // over the checkpointed frame (1 exchange each); top-1 is
  // TakeOrdered, exchange-free. 3 profiles ⇒ 3.
  check("skew_diagnose", 3)(operators.Relational.skewDiagnose(spark, sfDir))
  // cdc_apply: ONE key-partitioned aggregate (struct-max collapse) —
  // the whole point of the associative form; a window/sort creeping in
  // would break the changelog-depth-independence claim.
  check("cdc_apply", 1)(sources.Ingest.cdcApply(spark, sfDir))
  // scd2_point_in_time: facts + dim key-shuffles for the equi-join
  // (the dim must NOT force a range join) + the segment rollup.
  check("scd2_point_in_time", 3)(
    operators.Relational.scd2PointInTime(spark, sfDir))
  // dedup_lines: the two-phase distinct-doc-freq aggregate (2 exchanges)
  // + the per-doc reassembly aggregate + the boiler join-back. AQE
  // auto-broadcasts the boiler side at test scale (3 exchanges), but the
  // boiler set is corpus-derived and NOT hinted — at 100 TB the join-back
  // is a legitimate shuffle join, so the budget covers that form rather
  // than pinning a size-threshold runtime decision.
  check("dedup_lines", 4)(operators.Dedup.dedupLines(spark, sfDir))
  // Single-window ops: exactly the one partition-key shuffle.
  check("window_range_frame", 1)(operators.EventOps.windowRangeFrame(spark, sfDir))
  // Two-level offset: ONE corpus-row shuffle (the (source, chunk)
  // window) plus two exchanges over chunk-level AGGREGATED rows (the
  // per-chunk totals and their tiny per-source base window).
  check("sequence_pack", 3)(operators.Sampling.sequencePack(spark, sfDir))
  // importance_weights: the DSIR stats live in a constant-size hashed
  // bucket space and BROADCAST — the corpus is never shuffled on the
  // Zipf-skewed raw term key (a token-instance join on "term" puts ~5%
  // of 100 TB in one partition). Budget = the tiny per-bucket stats
  // aggregate + its single-row totals twin + ONE corpus shuffle of
  // per-(doc, bucket) tf rows + the per-doc rollup of those rows.
  check("importance_weights", 4)(operators.Sampling.importanceWeights(spark, sfDir))
  // lm_score rides the same skew-free shape: B-bucket LM stats + the
  // single-row total broadcast, ONE corpus shuffle of per-(doc, bucket)
  // tf rows, and the per-doc rollup. No raw-bigram key anywhere.
  check("lm_score", 4)(operators.TextAnalysis.lmScore(spark, sfDir))
  // winnow_fingerprint is pure per-row array selection — the fingerprint
  // stream never shuffles; scan speed at any SF.
  check("winnow_fingerprint", 0)(operators.TextAnalysis.winnowFingerprint(spark, sfDir))
  // ngram_containment: document-frequency aggregate + the rarity window
  // + the prefix/index shingle joins + candidate distinct + two verify
  // joins. AQE broadcasts most of these at test scale (measured 2);
  // the budget covers the shuffle-join form every step takes at 100 TB.
  check("ngram_containment", 8)(operators.Dedup.ngramContainment(spark, sfDir))
  // dedup_substring: duplicate-gram aggregate on the md5 digest + the
  // occurrence join back on that digest + the per-doc start-list
  // aggregate; the final start-list join onto the documents scan rides
  // dimHint (broadcast locally — not budgeted as a shuffle).
  check("dedup_substring", 4)(operators.Dedup.dedupSubstring(spark, sfDir))
  // grouping_sets expands layers map-side into ONE partial aggregate.
  check("grouping_sets_agg", 1)(operators.Relational.groupingSetsAgg(spark, sfDir))
  // Per-row multimodal stages: scan-speed, ZERO shuffles at any SF.
  check("multimodal_frame_sample", 0)(operators.Multimodal.multimodalFrameSample(spark, sfDir))
  check("multimodal_resize", 0)(operators.Multimodal.multimodalResize(spark, sfDir))
  // pq_encode: the codebook/query-side tables all broadcast — the only
  // corpus shuffles are the per-(vec, sub) argmin window of the final
  // assignment and the per-vector code/error aggregate (training-round
  // windows live in the eager codebook checkpoints, not this plan).
  check("pq_encode", 2)(operators.Quantization.pqEncode(spark, sfDir))
  // ccnet_buckets: lm scoring lives in the checkpointed cells frame;
  // this plan is the cell histogram + the Ranks bucketed exclusive
  // prefix (bucket histogram, bases fold, join-back — all over score
  // cells, metadata scale) + the single-row total/threshold folds
  // riding broadcast back onto the checkpoint scan. Zero corpus
  // shuffles, zero unpartitioned windows.
  check("ccnet_buckets", 9)(operators.TextAnalysis.ccnetBuckets(spark, sfDir))
  // dup_span_report: the digest hotness aggregate + the bounded top-k +
  // the (doc,start) recovery join (broadcast via dimHint locally; the
  // budget covers the shuffle form).
  check("dup_span_report", 4)(operators.Dedup.dupSpanReport(spark, sfDir))
  // markov_transitions: ONE user_id shuffle shared with sessionize's
  // window, the |types|^2 transition aggregate, and the tiny per-from
  // total fold (its broadcast join back is not a data shuffle).
  check("markov_transitions", 3)(operators.EventOps.markovTransitions(spark, sfDir))
  // langid_confusion: scan-speed lang_id projection + the small matrix
  // aggregate + the per-language total fold.
  check("langid_confusion", 3)(operators.TextAnalysis.langidConfusion(spark, sfDir))
  // lsh_band_stats: the (band, band_key) bucket-size aggregate + the
  // 6-row band rollup — nothing wider than the band index moves.
  check("lsh_band_stats", 2)(operators.Dedup.lshBandStats(spark, sfDir))
  // source_quality_matrix: the rules⋈source doc_id join (shuffle form
  // budgeted; AQE broadcasts at test scale) + the |sources| aggregate.
  check("source_quality_matrix", 3)(operators.TextAnalysis.sourceQualityMatrix(spark, sfDir))
  // pack_efficiency: sequence_pack's budget (3) + the per-(source, seq)
  // and per-source rollups.
  check("pack_efficiency", 5)(operators.Sampling.packEfficiency(spark, sfDir))
  // Training-objective prep is pure per-row array/string projection —
  // scan speed, ZERO shuffles at any SF.
  check("span_corruption", 0)(operators.Objectives.spanCorruption(spark, sfDir))
  check("prefix_lm_split", 0)(operators.Objectives.prefixLmSplit(spark, sfDir))
  check("fim_split", 0)(operators.Objectives.fimSplit(spark, sfDir))
  // Per-row text stages: scan speed, ZERO shuffles at any SF.
  check("html_strip", 0)(operators.Cleaning.htmlStrip(spark, sfDir))
  check("sentence_split", 0)(operators.TextAnalysis.sentenceSplit(spark, sfDir))
  // tokenizer_fertility: exactly the one |langs|-keyed aggregate.
  check("tokenizer_fertility", 1)(operators.TextAnalysis.tokenizerFertility(spark, sfDir))
  // corpus_divergence: ONE corpus (source,word) aggregate; after it
  // everything is vocab-sized — the corpus-total regroup, the tiny
  // per-source totals, the one-row grand total, the w-keyed terms join
  // (shuffle form budgeted: the vocab side is NOT always broadcastable
  // at 100 TB) and the final per-source fold. Measured 6; +1 headroom
  // for the join's two-sided exchange when AQE stops broadcasting.
  check("corpus_divergence", 7)(operators.TextAnalysis.corpusDivergence(spark, sfDir))
  // quality_calibration: lm_score's skew-free 4 + the final per-source
  // moment fold (measured 5); the doc_id joins against the two signal
  // frames broadcast at test scale but are legitimate corpus shuffle
  // joins at 100 TB — budget covers that form (+3).
  check("quality_calibration", 8)(operators.TextAnalysis.qualityCalibration(spark, sfDir))
  // curriculum_order: the ONE corpus shuffle is the within-cell
  // row_number window; the serial bases now ride the Ranks bucketed
  // exclusive prefix over the ≤1025-cell histogram (its histogram,
  // bases fold, and join-back are metadata-scale exchanges), plus the
  // one-row total fold — no unpartitioned window anywhere.
  check("curriculum_order", 6)(operators.Sampling.curriculumOrder(spark, sfDir))
  // char_class_stats: pure per-row regex counting, scan speed.
  check("char_class_stats", 0)(operators.TextAnalysis.charClassStats(spark, sfDir))
  // embedding_norm_audit: exactly the one label-keyed aggregate.
  check("embedding_norm_audit", 1)(operators.Similarity.embeddingNormAudit(spark, sfDir))
  // dedup_sentences: dedup_lines' shape on natural boundaries — the
  // (doc, sentence-hash) doc-frequency aggregate + the boiler join-back
  // (shuffle form budgeted; AQE broadcasts the boiler side at test
  // scale) + the per-doc reassembly aggregate.
  check("dedup_sentences", 4)(operators.Dedup.dedupSentences(spark, sfDir))
  // snapshot_diff: the two digest sides of the key-partitioned full
  // outer join — one exchange each, co-partitioned on the unique key.
  check("snapshot_diff", 2)(sources.Ingest.snapshotDiff(spark, sfDir))
  // vocab_growth: ONE corpus word shuffle (per-word min/count); the
  // milestone histogram + doc-level token sums + the 5-row join are
  // vocab/doc-sized. Budget covers the shuffle-join form.
  check("vocab_growth", 4)(operators.TextAnalysis.vocabGrowth(spark, sfDir))
  // zipf_coverage: the word-count aggregate + the bounded TakeOrdered's
  // single-partition exchange + the 1000-row rank window + 3-row fold.
  check("zipf_coverage", 4)(operators.TextAnalysis.zipfCoverage(spark, sfDir))
  // bloom_join_prune: the bloom prunes the probe SCAN (no exchange);
  // budget = the two join-side exchanges + the priority aggregate.
  // AQE broadcasts the build side at test scale; budget covers the
  // shuffle-join form at 100 TB.
  check("bloom_join_prune", 3)(operators.RelationalExt.bloomJoinPrune(spark, sfDir))
  // dataset_manifest: exactly the one (split, source) aggregate.
  check("dataset_manifest", 1)(operators.Sampling.datasetManifest(spark, sfDir))
  // source_signature_terms: corpus_divergence's unigram shape (one
  // corpus shuffle, vocab-sized after) + the per-source top-5 window.
  check("source_signature_terms", 7)(
    operators.TextAnalysis.sourceSignatureTerms(spark, sfDir))
  // ewma_smooth: the corpus (type, day) aggregate lives in the eager
  // checkpoint; this plan is the day-grid self-join (both sides tiny,
  // type-keyed) + the final (type, day) fold.
  check("ewma_smooth", 3)(operators.EventOps.ewmaSmooth(spark, sfDir))
  // winsorize_clip: the per-(type, cell) histogram + its per-type
  // cumulative/total windows over AGGREGATED cells; the threshold frame
  // broadcasts back onto the scan (events never shuffle twice).
  check("winsorize_clip", 3)(operators.EventOps.winsorizeClip(spark, sfDir))
  // ab_test_metrics: the per-(variant, user) aggregate is the one
  // corpus shuffle; the variant rollup is 2 rows.
  check("ab_test_metrics", 2)(operators.EventOps.abTestMetrics(spark, sfDir))
  // rfm_segmentation: the corpus shuffle (per-user purchase aggregate)
  // lives in the eager checkpoint job; this plan is 3 dims × the Ranks
  // bucketed exclusive prefix over the dimension's cell histogram
  // (~6 metadata-scale exchanges each — the m-dimension's cells grow
  // with the spend RANGE, hence no unpartitioned cumulative) + the
  // one-row total fold. Many exchanges, all over AGGREGATED cells.
  check("rfm_segmentation", 23)(operators.EventOps.rfmSegmentation(spark, sfDir))
  // mmr_rerank (r16 rewrite): the corpus-wide pool construction and the
  // bounded pairwise cosines execute inside collect() when the frame is
  // CONSTRUCTED (see the operator's NOTE), and the greedy rounds run
  // driver-side — the returned plan is a LocalRelation with ZERO
  // exchanges. This check guards that the driver-side form never
  // regresses into the old 642-exchange unrolled loop; the corpus-side
  // pool pipeline is exercised (and thus still measured) by the same
  // construction.
  check("mmr_rerank", 0)(operators.Similarity.mmrRerank(spark, sfDir))
  // dataset_card: the (split, source) matrix aggregate feeds two
  // branches (the card rows + the per-split total fold), each with its
  // own exchange over ALREADY-AGGREGATED |splits|·|sources| rows, plus
  // the totals' single-row fold — corpus rows shuffle once.
  check("dataset_card", 3)(operators.Sampling.datasetCard(spark, sfDir))
  // shard_plan: the rendezvous argmax is a per-row array expression —
  // the corpus never shuffles; the ONE exchange is the 16-group fold
  // of partial aggregates.
  check("shard_plan", 1)(operators.Lakehouse.shardPlan(spark, sfDir))
  // col_stats_histogram: one stacked scan, one window exchange (bin
  // assignment partitioned by col_name), one (col, bin) fold — the
  // three columns never cost three scans.
  check("col_stats_histogram", 2)(
    operators.Lakehouse.colStatsHistogram(spark, sfDir))
  // compaction_plan: the lake aggregates inside the eager inventory
  // checkpoint; the visible plan carries ONE exchange — the bounded
  // window + group fold over the calendar-bounded inventory (r11's
  // two-level form budgeted 6 here).
  check("compaction_plan", 1)(operators.Lakehouse.compactionPlan(spark, sfDir))
  // event_debounce: one composite-key window shuffle, no self-join.
  check("event_debounce", 1)(operators.EventOps.eventDebounce(spark, sfDir))
  // readability_score: pure per-row projection — scan speed, ZERO
  // shuffles at any corpus size.
  check("readability_score", 0)(
    operators.TextAnalysis.readabilityScore(spark, sfDir))
  // fuzzy_join: the row table collapses to the name dictionary first
  // (one exchange); the blocked self-join + edit distance run on
  // dictionary-cardinality frames.
  check("fuzzy_join", 4)(operators.RelationalExt.fuzzyJoin(spark, sfDir))
  // mv_delta_merge: state + full-recompute aggregates (one corpus
  // exchange each) meet in a key-cardinality join.
  check("mv_delta_merge", 4)(operators.Lakehouse.mvDeltaMerge(spark, sfDir))
  // join_cardinality_est: the corpus shuffles live in the histogram
  // checkpoints (one per side, computed once); this plan is three
  // audits' worth of joins/folds/top-1s over HISTOGRAM-sized frames.
  check("join_cardinality_est", 14)(
    operators.Lakehouse.joinCardinalityEst(spark, sfDir))
  // file_skipping_audit: two layout carves via the two-level exact
  // NTILE (per layout: cell histogram + bases + cell-partitioned rank
  // window) + per-layout file fold and one-row summary — 7 exchanges
  // per profile, none single-reducer (the former plan's per-layout
  // single-partition ntile sort is gone).
  check("file_skipping_audit", 14)(
    operators.Lakehouse.fileSkippingAudit(spark, sfDir))
  // k_anonymity_audit: one map-side-combinable aggregate over the
  // projected quasi columns.
  check("k_anonymity_audit", 1)(operators.Quality.kAnonymityAudit(spark, sfDir))
  // lateness_audit: the type-keyed hwm window is the one corpus
  // shuffle; the delay fan-out feeds a tiny (type, delay) fold.
  check("lateness_audit", 2)(operators.EventOps.latenessAudit(spark, sfDir))
  // burst_detect: corpus → (type, hour) grid once; the trailing window
  // runs on the grid.
  check("burst_detect", 2)(operators.EventOps.burstDetect(spark, sfDir))
  // time_weighted_avg: the per-user window and per-user fold share one
  // user_id exchange.
  check("time_weighted_avg", 1)(operators.EventOps.timeWeightedAvg(spark, sfDir))
  // hll_window_merge: daily sketch agg + weekly union (day-count-sized)
  // + the exact-twin aggregate and its small join.
  check("hll_window_merge", 5)(operators.EventOps.hllWindowMerge(spark, sfDir))
  // longest_dup_span: (doc, start, digest) rows carry every exchange
  // before the final doc join — dup aggregate, digest join, islands
  // window + island fold + per-doc fold sharing doc_id partitioning.
  check("longest_dup_span", 8)(operators.Dedup.longestDupSpan(spark, sfDir))
  // entity_resolution: the propagation loop's exchanges live in its
  // checkpointed rounds over the DICTIONARY-scale label frame; this
  // final plan is the labels⋈names join.
  check("entity_resolution", 4)(
    operators.RelationalExt.entityResolution(spark, sfDir))
  // session_paths: the user window + per-session fold share one
  // exchange; the path count and bounded top-k heap add one more.
  check("session_paths", 3)(operators.EventOps.sessionPaths(spark, sfDir))
  // conversion_latency: per-user conditional aggregate, purchase join,
  // first-conversion fold, histogram fold — all user-or-smaller keyed.
  check("conversion_latency", 5)(
    operators.EventOps.conversionLatency(spark, sfDir))
  // bloom_skipping_audit: the (file, key) index build lives in the
  // checkpoint (file carve + distinct); this plan is the 256 B/file
  // bitmap aggregate + broadcast-sized probe joins and folds. The file
  // carve itself is the two-level exact-NTILE (Ranks.scala): one cell
  // histogram + one cell-partitioned window — no single-reducer sort.
  check("bloom_skipping_audit", 5)(
    operators.Lakehouse.bloomSkippingAudit(spark, sfDir))
  // cusum_changepoint: corpus → grid once; the stat/run/rank windows
  // all share the event_type partitioning.
  check("cusum_changepoint", 3)(
    operators.EventOps.cusumChangepoint(spark, sfDir))
  // right_to_erasure: four table scans with broadcast-semi subject
  // probes; every exchange is a one-row count fold.
  check("right_to_erasure", 12)(
    operators.Quality.rightToErasure(spark, sfDir))
  // concurrency_peaks: the user window + session fold share one
  // exchange; the sweep re-keys by day once; the opening-balance
  // carry runs on the days-count frame and broadcasts back — the
  // global prefix sum never pays a global sort.
  check("concurrency_peaks", 5)(
    operators.EventOps.concurrencyPeaks(spark, sfDir))
  // compression_estimate: one stacked scan, the per-column run window
  // and the per-column fold share the col_name exchange.
  check("compression_estimate", 2)(
    operators.Lakehouse.compressionEstimate(spark, sfDir))
  // embedding_drift: one posexplode scan; the (label, dim) cell fold
  // and the per-label drift fold.
  check("embedding_drift", 2)(
    operators.Similarity.embeddingDrift(spark, sfDir))
  // Round-9 event-science family: the corpus shuffles once into its
  // per-key frame; the extra exchanges are countDistinct expands (a
  // 3-distinct aggregate plans expand + two agg phases) and
  // profile-scale windows, never a second corpus shuffle.
  check("bot_detect", 3)(operators.EventScience.botDetect(spark, sfDir))
  check("dow_seasonality", 3)(operators.EventScience.dowSeasonality(spark, sfDir))
  // growth_accounting: the distinct user-day aggregate and the per-USER
  // lag window are the corpus-scale exchanges feeding one day-keyed
  // fold; the spine and day−1 self-joins are calendar-scale.
  check("growth_accounting", 6)(
    operators.EventScience.growthAccounting(spark, sfDir))
  // seasonal_decompose: the corpus-scale daily aggregate lives inside
  // the eager grid checkpoint; the visible exchanges are the 7-row
  // seasonal fold and its broadcast join back onto the day grid.
  check("seasonal_decompose", 2)(
    operators.EventScience.seasonalDecompose(spark, sfDir))
  // seasonal_anomaly: the decomposition runs inside the interior-day
  // checkpoint; visible exchanges are the two median-rank windows and
  // the scalar broadcasts, all calendar-scale.
  check("seasonal_anomaly", 5)(
    operators.EventScience.seasonalAnomaly(spark, sfDir))
  check("behavior_gini", 2)(operators.EventScience.behaviorGini(spark, sfDir))
  check("drift_tvd", 4)(operators.EventScience.driftTvd(spark, sfDir))
  // bitmap_overlap: distinct → word fold → word_idx join → pair fold;
  // the T² sweep itself adds no corpus-scale exchange.
  check("bitmap_overlap", 4)(operators.EventScience.bitmapOverlap(spark, sfDir))
  // quantile_sketch_merge: daily histogram fold + grid densify + the
  // two window merges on the metadata-scale grid.
  check("quantile_sketch_merge", 4)(
    operators.EventScience.quantileSketchMerge(spark, sfDir))
  // benford: one 9-group fold per measure scan + the share window on
  // the 18-row profile.
  check("benford_audit", 3)(operators.Quality.benfordAudit(spark, sfDir))
  // l_diversity_audit: both group-bys live in the eager checkpoint;
  // this plan is the one-row total fold broadcast onto the ≤|l| frame.
  check("l_diversity_audit", 2)(operators.Quality.lDiversityAudit(spark, sfDir))
  check("group_kfold", 3)(operators.Sampling.groupKfold(spark, sfDir))
  // bm25: ONE tokenize scan into the per-doc fold; the stats row is a
  // single-partition fold; top-20 is TakeOrdered (no exchange).
  check("bm25_topk", 2)(operators.Retrieval.bm25Topk(spark, sfDir))
  // quantile_normalize: per-source rank window + the two-level global
  // rank (bounded 1024-bucket cell histogram from the broadcast length
  // span, bases, cell-partitioned window) + the rank equi-join — no
  // single-reducer window; the total-count and span folds ride
  // broadcast one-row aggregates.
  check("quantile_normalize", 6)(operators.Retrieval.quantileNormalize(spark, sfDir))
  // theilsen: corpus → monthly grid once; the pair self-join and median
  // window run on the metadata-scale grid.
  check("theilsen_trend", 2)(operators.Retrieval.theilsenTrend(spark, sfDir))
  // assoc_rules: the ONE basket shuffle + the support/pair folds that
  // reread the checkpointed baskets.
  check("assoc_rules", 3)(operators.GraphExt.assocRules(spark, sfDir))
  check("graph_assortativity", 2)(operators.GraphExt.graphAssortativity(spark, sfDir))
  // Round-9 second wave. Same discipline: the corpus-keyed shuffle(s)
  // plus profile-scale windows/folds; budgets are the measured counts.
  check("forecast_backtest", 2)(operators.EventScience.forecastBacktest(spark, sfDir))
  // cohort_ltv: two corpus-keyed folds (first-touch, cohort cells);
  // the rest are the countDistinct expand + grid window.
  check("cohort_ltv", 6)(operators.EventScience.cohortLtv(spark, sfDir))
  check("attribution_linear", 3)(operators.EventScience.attributionLinear(spark, sfDir))
  check("dwh_dim_date", 1)(operators.Dwh.dimDate(spark, sfDir))
  check("decayed_popularity", 3)(operators.GraphExt.decayedPopularity(spark, sfDir))
  check("clustering_coefficient", 2)(
    operators.GraphExt.clusteringCoefficient(spark, sfDir))
  check("dp_noisy_counts", 1)(operators.Quality.dpNoisyCounts(spark, sfDir))
  // class_separability: the corpus-scale (label, dim) moment aggregate
  // lives inside the eager checkpoint (read by both the global-dim fold
  // and the term join); visible exchanges are the |labels|·dim folds.
  check("class_separability", 2)(
    operators.Coreset.classSeparability(spark, sfDir))
  // mix_quality_frontier: the doc_id score join + per-source aggregate
  // are corpus-scale; the frontier window runs on |sources| rows.
  check("mix_quality_frontier", 4)(
    operators.Sampling.mixQualityFrontier(spark, sfDir))
  // ks/mw: the corpus aggregates inside the eager cell checkpoint, so
  // the visible plan carries ONE exchange — the single-partition window
  // over the DOMAIN-bounded (≤ max-doc-length) support cells. r11's
  // two-level form budgeted 10/9 exchanges here; the r12 bounded-window
  // revert collapsed both to 1.
  check("ks_statistic", 1)(operators.StatTests.ksStatistic(spark, sfDir))
  check("mann_whitney_auc", 1)(operators.StatTests.mannWhitneyAuc(spark, sfDir))
  // shipping_lag_percentiles: the orderkey join + (priority, lag) cells
  // live inside the checkpoint; visible exchanges are the per-priority
  // CDF window, the totals fold, and the final fold — all cell-scale.
  check("shipping_lag_percentiles", 4)(
    operators.RelationalExt.shippingLagPercentiles(spark, sfDir))
  // qq_compare: the ks cell checkpoint hides the corpus scan; visible
  // exchanges are the bounded CDF window, the scalar totals broadcast,
  // and the 19-row percent-grid fold.
  check("qq_compare", 3)(operators.StatTests.qqCompare(spark, sfDir))
  // welch_ttest: ONE corpus-scale exchange (the per-rank moment
  // aggregate over the broadcast-gated top-2 subset); the rest are the
  // |sources| top-2 fold, its 2-row post-LIMIT window, and the scalar
  // pivot — all metadata-scale.
  check("welch_ttest", 4)(operators.StatTests.welchTtest(spark, sfDir))
  // anova_oneway: the per-source moment aggregate is the one
  // corpus-scale shuffle; the |sources|-row term fold is the other.
  check("anova_oneway", 2)(operators.StatTests.anovaOneway(spark, sfDir))
  // chi_square: 8 of the 9 exchanges move ≤|cells| (125) rows — the
  // margin folds, countDistinct expands, and scalar broadcasts; the one
  // corpus-scale shuffle is the contingency aggregate.
  // chi2_residuals: same margin plumbing as chi², minus the final
  // verdict folds — all but the contingency aggregate move ≤|cells| rows.
  check("chi2_residuals", 7)(operators.StatTests.chi2Residuals(spark, sfDir))
  check("chi_square_independence", 9)(
    operators.StatTests.chiSquareIndependence(spark, sfDir))
  // spearman_corr: two INDEPENDENT two-level ranks over the
  // checkpointed (key, cents, width) base — each axis pays its cell
  // histogram + bases fold + cell-partitioned window exactly once —
  // joined back on the order key for the scalar d² fold. 8 exchanges,
  // none single-reducer, no corpus sort ever executed twice.
  check("spearman_corr", 8)(operators.StatTests.spearmanCorr(spark, sfDir))
  // gini_concentration: per-customer fold, spend-cell fold, then the
  // two-level exclusive prefix (1024-bucket histogram + bases +
  // bucket-partitioned running sums) and the scalar fold — no
  // unpartitioned window even over the near-customer-cardinality cells.
  check("gini_concentration", 5)(operators.StatTests.giniConcentration(spark, sfDir))
  check("neyman_allocation", 4)(operators.StatTests.neymanAllocation(spark, sfDir))
  check("snippet_extract", 1)(operators.Retrieval.snippetExtract(spark, sfDir))
  check("rrf_fusion", 2)(operators.Retrieval.rrfFusion(spark, sfDir))
  // hilbert_layout: 6 exchanges per curve profile over the CHECKPOINTED
  // curve-key frame (the unroll computes once) — the corpus-scale pair
  // is the cell-partitioned rank window + the map-combined file fold;
  // the rest (total, cell histogram, bases, scalar profile) move
  // metadata-scale rows. Replaces the former 2-exchange plan whose
  // second exchange was a SINGLE-PARTITION global ntile sort — more
  // exchanges, none serial.
  check("hilbert_layout", 12)(operators.Lakehouse.hilbertLayout(spark, sfDir))
  check("acf_daily", 3)(operators.EventScience.acfDaily(spark, sfDir))
  // skyline_2d: ONE corpus shuffle (the per-price max-size fold); the
  // frontier test rides the Ranks exclusive prefix MAX over price
  // cells and the survivor set (≤|distinct sizes|) broadcasts back —
  // the corpus is never sorted and never windowed.
  check("skyline_2d", 4)(operators.RelationalExt.skyline2d(spark, sfDir))
  // repurchase_curve: gap window + gap-week histogram live in the eager
  // checkpoint; this plan is the Ranks prefix over the ≤weeks-count
  // histogram + the one-row total fold.
  check("repurchase_curve", 4)(operators.RelationalExt.repurchaseCurve(spark, sfDir))
  check("fano_factor", 2)(operators.EventScience.fanoFactor(spark, sfDir))
  check("daily_novelty", 3)(operators.EventScience.dailyNovelty(spark, sfDir))
  // user_concentration: corpus → per-user fold once; the decile
  // assignment is the two-level exact NTILE over user-scale rows (cell
  // histogram + bases + cell-partitioned window), and the one global
  // window left runs on the 10-row decile profile.
  check("user_concentration", 7)(
    operators.EventScience.userConcentration(spark, sfDir))
  // stickiness: corpus → bitmap fold + the dense-grid densify joins;
  // AQE flips one grid-scale join between broadcast and shuffle run to
  // run (measured 4 and 5) — the budget pins the shuffle-form upper
  // bound; every exchange past the first moves bitmap-scale rows.
  check("stickiness_dau_mau", 5)(
    operators.EventScience.stickinessDauMau(spark, sfDir))
  check("bounce_rate", 2)(operators.EventScience.bounceRate(spark, sfDir))
  // frame sampling is a pure mapPartitions flatMap — scan speed, ZERO
  // exchanges at any SF.
  check("multimodal_frame_sample_real", 0)(
    operators.Multimodal.multimodalFrameSampleReal(spark, sfDir))
  // token_budget_plan: the corpus aggregates inside the checkpoint; the
  // visible plan folds the |sources|-row planned frame twice (budget
  // fold + final projection join), both metadata-scale.
  check("token_budget_plan", 2)(operators.Sampling.tokenBudgetPlan(spark, sfDir))
  // keep_best/mix_shift: the component map broadcasts; the one exchange
  // each is the cluster-scale argmax / |sources|-row share aggregate.
  check("dedup_keep_best", 1)(operators.Dedup.dedupKeepBest(spark, sfDir))
  check("dedup_mix_shift", 1)(operators.Dedup.dedupMixShift(spark, sfDir))
  // boilerplate_detect: ONE corpus shuffle — the (source, prefix-md5)
  // narrow-key aggregate; source totals broadcast.
  check("boilerplate_detect", 1)(operators.TextAnalysis.boilerplateDetect(spark, sfDir))
  // t_closeness: the corpus aggregates inside the cell checkpoint; the
  // three visible exchanges fold/join DIMENSION-scale frames only
  // (group margin, grid join, final fold — all |groups|x|segments|).
  check("t_closeness_audit", 3)(operators.Quality.tClosenessAudit(spark, sfDir))
  // ndcg_eval: the tokenize pass lives in the bm25 checkpoint; the one
  // exchange is the single-row one-hot gain fold (TakeOrdered + a
  // ≤10-row window are exchange-light).
  check("ndcg_eval", 1)(operators.Retrieval.ndcgEval(spark, sfDir))
  check("map_eval", 1)(operators.Retrieval.mapEval(spark, sfDir))
  // kendall_tau_b: the orders scan aggregates inside the cents-cell
  // checkpoint; the five visible exchanges are the gini-shaped Ranks
  // two-level machinery over the HISTOGRAM (bucket window partition,
  // bucket histogram, triangular offsets, join-back, final one-row
  // fold) — all cell-scale, the corpus never re-shuffles.
  check("kendall_tau_b", 5)(operators.StatTests.kendallTauB(spark, sfDir))
  // kruskal_wallis: one narrow (source, n_chars) corpus aggregate; the
  // other four exchanges fold SUPPORT- or |sources|-scale frames (the
  // ks-bounded rank window, per-source fold, tie/total fold, final row).
  check("kruskal_wallis", 5)(operators.StatTests.kruskalWallis(spark, sfDir))
  // kappa: one single-row conditional-count fold over a pure per-row
  // gate projection — scan speed at any SF.
  check("filter_agreement_kappa", 1)(
    operators.TextAnalysis.filterAgreementKappa(spark, sfDir))
  // same shape as ndcg_eval: tokenize lives in the bm25 checkpoint,
  // one single-row fold past the TakeOrdered top-k.
  check("retrieval_eval_pk", 1)(
    operators.Retrieval.retrievalEvalPk(spark, sfDir))
  // threshold sweep: the blocked pair join lives in the checkpoint; the
  // three visible exchanges aggregate/join the 5-row threshold census.
  check("dedup_threshold_sweep", 3)(
    operators.Dedup.dedupThresholdSweep(spark, sfDir))
  // decontaminate_semantic: the benchmark side broadcasts (map-side
  // nested loop over the corpus scan); the one exchange partitions the
  // FLAGGED candidates by vec_id for the ≤|bench|-row argmax window.
  check("decontaminate_semantic", 1)(
    operators.Similarity.decontaminateSemantic(spark, sfDir))
  // cochran_armitage: one map-side-combinable 7-cell weekday aggregate
  // plus the single-row moment fold.
  check("cochran_armitage", 2)(
    operators.StatTests.cochranArmitage(spark, sfDir))
  // mcnemar: the kappa gate grid — one single-row conditional-count
  // fold over a per-row gate projection, scan speed at any SF.
  check("mcnemar_test", 1)(operators.TextAnalysis.mcnemarTest(spark, sfDir))
  // mann_kendall: the corpus aggregates inside the daily checkpoint;
  // the three visible exchanges fold CALENDAR-scale frames (pair-sign
  // sum, tie census, single-row join).
  check("mann_kendall", 3)(operators.StatTests.mannKendall(spark, sfDir))
  // phash: fingerprints are scan-speed; the ONE exchange is the banded
  // candidate self-join keyed on (band, chunk) — narrow tuples, the
  // band key in the join key (distinct+verify ride the same exchange
  // at this width; AQE reuses the build side).
  check("multimodal_phash", 1)(
    operators.Multimodal.multimodalPhash(spark, sfDir))
  check("multimodal_phash_real", 1)(
    operators.Multimodal.multimodalPhashReal(spark, sfDir))
  // audio meta/energy is a pure per-row projection / mapPartitions —
  // scan speed, ZERO exchanges at any SF.
  check("multimodal_audio", 0)(
    operators.Multimodal.multimodalAudio(spark, sfDir))
  check("multimodal_audio_real", 0)(
    operators.Multimodal.multimodalAudioReal(spark, sfDir))

  // ---- r13 additions ----
  // jarque_bera: one exact 5-moment aggregate — a single combine.
  check("jarque_bera", 1)(operators.Inference.jarqueBera(spark, sfDir))
  // levene_bf: group-partitioned median rank + broadcast of k medians
  // back onto the scan + the exact-moment aggregate chain.
  check("levene_bf", 4)(operators.Inference.leveneBf(spark, sfDir))
  // friedman_test: (day,type) counts, the completed grid's day windows,
  // per-type rank sums, final fold — all at calendar scale after one
  // corpus aggregate.
  check("friedman_test", 6)(operators.Inference.friedmanTest(spark, sfDir))
  // corpus tail stats: one or two word/shingle-keyed aggregates (+ the
  // global-count checkpoint hiding its own exchange).
  check("ttr_diversity", 1)(operators.CorpusExt.ttrDiversity(spark, sfDir))
  check("simpson_diversity", 2)(
    operators.CorpusExt.simpsonDiversity(spark, sfDir))
  check("hapax_ratio", 2)(operators.CorpusExt.hapaxRatio(spark, sfDir))
  check("rare_ngram_mass", 3)(operators.CorpusExt.rareNgramMass(spark, sfDir))
  check("skipgram_pairs", 2)(operators.CorpusExt.skipgramPairs(spark, sfDir))
  // pii_inventory: scan-speed regexp folds + one tiny source aggregate.
  check("pii_inventory", 1)(operators.CorpusExt.piiInventory(spark, sfDir))
  // interarrival: user-partitioned lag window + (type, minute) cells +
  // cell-scale CDF windows.
  check("interarrival_stats", 4)(
    operators.EventExt.interarrivalStats(spark, sfDir))
  // cdc_conflict_audit: (key, ts) cells + the countDistinct expand
  // + the single-row fold.
  check("cdc_conflict_audit", 3)(
    operators.EventExt.cdcConflictAudit(spark, sfDir))
  // page_hinkley: one day aggregate, then calendar-bounded windows.
  check("page_hinkley", 3)(operators.EventExt.pageHinkley(spark, sfDir))
  // phash sweep: the banded candidate join (band key IN the join key)
  // + distinct + the single-row conditional fold.
  check("multimodal_phash_sweep", 3)(
    operators.Multimodal.phashHammingSweep(spark, sfDir))
  check("multimodal_audio_clip", 1)(
    operators.Multimodal.multimodalAudioClip(spark, sfDir))
  // probe-frame ANN audits: broadcast probes, one rank window + folds.
  check("hubness_audit", 3)(operators.Similarity.hubnessAudit(spark, sfDir))
  check("knn_margin_audit", 2)(
    operators.Similarity.knnMarginAudit(spark, sfDir))
  // selectivity_qerror: histogram inside the checkpoint; visible are
  // the threshold folds and the tiny est/act join.
  check("selectivity_qerror", 4)(
    operators.Lakehouse.selectivityQerror(spark, sfDir))
  // generalization_ladder: six rung aggregates over the checkpointed
  // quasi-id projection + the 6-row ladder window.
  check("generalization_ladder", 14)(
    operators.Quality.generalizationLadder(spark, sfDir))
  // mrr_eval: the checkpointed tf/df frame feeds the top-k rank + the
  // relevance fold (mapEval's budget shape).
  check("mrr_eval", 4)(operators.Retrieval.mrrEval(spark, sfDir))
  // bpe_compression_curve: training passes live in bpeMerges'
  // checkpoints; visible are the merge-table pivot chain feeding the
  // broadcast row, the distinct-word vocabulary aggregate (r16: the
  // curve folds each DISTINCT word once per level instead of every
  // occurrence once per level-prefix — one extra narrow (word, cnt)
  // exchange, both sides map-side combined, bought a 4× wall-time
  // drop), and the final one-row fold.
  check("bpe_compression_curve", 5)(
    operators.Tokenizer.bpeCompressionCurve(spark, sfDir))
  // broadcast_plan_advisor: four (build, probe) single-row aggregates —
  // tables are counted, never joined; every cross join is single-row.
  check("broadcast_plan_advisor", 8)(
    operators.Lakehouse.broadcastPlanAdvisor(spark, sfDir))
  // value_cvar: the corpus aggregates inside the cell checkpoint; the
  // visible plan is the per-type cell windows + the per-type fold.
  check("value_cvar", 2)(operators.EventExt.valueCvar(spark, sfDir))
  // betweenness_sampled: the edge construction and all 7 BFS/dependency
  // rounds live inside their checkpoints (each round = one state-keyed
  // fold, edges never reshuffled); the visible plan is the per-level
  // delta unions + the final bc fold and TakeOrdered — state-sized.
  check("betweenness_sampled", 8)(
    operators.GraphExt.betweennessSampled(spark, sfDir))
  // closeness_sampled: betweenness's forward pass without the sigma
  // bookkeeping — per-round distinct+anti-join folds in checkpoints,
  // the visible plan is the harmonic fold + TakeOrdered.
  check("closeness_sampled", 6)(
    operators.GraphExt.closenessSampled(spark, sfDir))
  // url_canonical_dedup: per-row regex canonicalization at scan speed;
  // the COUNT DISTINCT(url) makes the canonical-keyed fold a standard
  // two-phase distinct aggregate — (canon, url) partial then canon —
  // so two exchanges, both on aggregated keys; top-20 is TakeOrdered.
  check("url_canonical_dedup", 2)(
    operators.CorpusExt.urlCanonicalDedup(spark, sfDir))
  // pq_encode_residual: residual construction + codebook training live
  // in checkpoints; the visible plan is the (vec, sub) assign window +
  // per-vector fold, like pq_encode.
  check("pq_encode_residual", 4)(
    operators.Quantization.pqEncodeResidual(spark, sfDir))
  // ann_ivfpq_residual: same serving-path shape as ann_ivfpq — probe
  // windows, ADC fold, candidate rank, re-rank — all query-keyed or
  // broadcast; the corpus-scale joins ride broadcasts.
  check("ann_ivfpq_residual", 10)(
    operators.Quantization.annIvfPqResidual(spark, sfDir))

  // ---- round-15 operators (measured with graft.ShuffleCount) ----

  // spearman_corr_bucketed: ONE corpus groupBy into the joint
  // (value-bucket, width) histogram (checkpointed); visible are the two
  // axis-histogram folds, the two triangular midrank joins (metadata
  // pairs), the moment aggregate and the cells count — all bounded by
  // buckets^2 rows regardless of corpus size.
  check("spearman_corr_bucketed", 9)(
    operators.StatTests.spearmanCorrBucketed(spark, sfDir))
  // semdedup_incremental: the index side is bucketed once (checkpointed
  // recompute of the AnnIndex pipeline); visible are the probe-set join
  // fold and the per-query best-neighbor aggregate — batch-keyed.
  check("semdedup_incremental", 3)(
    operators.Similarity.semdedupIncremental(spark, sfDir))
  // unigram_train: every EM round lands in a checkpoint (the kmeans
  // discipline) and the top-20 is TakeOrdered — the visible plan
  // carries ZERO exchanges.
  check("unigram_train", 0)(operators.Tokenizer.unigramTrain(spark, sfDir))
  // unigram_encode / wordpiece_encode: one corpus scan against the
  // broadcast piece map; the single exchange is the vocabulary fold
  // feeding the broadcast.
  check("unigram_encode", 2)(operators.Tokenizer.unigramEncode(spark, sfDir))
  check("wordpiece_encode", 2)(
    operators.Tokenizer.wordpieceEncode(spark, sfDir))
  // tokenizer_compare: the three encode totals' single-row aggregates
  // plus bpe_encode's merge-table pivot chain — every cross join is a
  // one-row broadcast.
  check("tokenizer_compare", 8)(
    operators.Tokenizer.tokenizerCompare(spark, sfDir))
  // louvain_refine: LPA rounds live in checkpoints; visible are the
  // community-weight folds, the gain join (edge-keyed, the one
  // corpus-scale shuffle family), the conflict-resolution aggregate and
  // the modularity folds for both partitions.
  check("louvain_refine", 10)(operators.GraphExt.louvainRefine(spark, sfDir))
  // quantile_normalize_bucketed: ONE corpus aggregate into the
  // (source, bucket) cell checkpoint; visible are the source-partitioned
  // midrank windows over that grid, the global-histogram fold + its
  // triangular prefix join, and the total-count row — doc-level work
  // rides two broadcast joins, never a corpus shuffle.
  check("quantile_normalize_bucketed", 5)(
    operators.Retrieval.quantileNormalizeBucketed(spark, sfDir))
  // schedule_backfill_plan: the per-day aggregate (checkpointed) is the
  // one event-scale fold; the calendar explode and volume join ride the
  // broadcast span row.
  check("schedule_backfill_plan", 2)(
    operators.Scheduling.scheduleBackfillPlan(spark, sfDir))
}
