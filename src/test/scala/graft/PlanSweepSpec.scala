package graft

/** Sweeping plan-quality guards over EVERY declared query, from ONE build
  * pass per query:
  *
  *   1. No unbounded nested-loop join: at 100 TB the one plan shape that is
  *      never survivable is a CartesianProduct / BroadcastNestedLoopJoin,
  *      so any query planning one fails unless it is on the explicit
  *      allowlist of DOCUMENTED bounded uses.
  *   2. Shuffle budget: each query's STATIC initial-plan exchange count is
  *      pinned as an upper bound (re-captured with
  *      `runMain graft.Profile --plan-only <sfDir>`, whose `exchanges`
  *      field is the same [[Profile.exchangeCount]]). A refactor that
  *      silently adds a shuffle — an un-broadcast dim, a lost partitioning,
  *      a stray repartition — fails here instead of shipping a regression
  *      the bench may not attribute. Counts are pre-AQE and deterministic;
  *      improvements (fewer shuffles) pass and the bound should then be
  *      tightened.
  */
object PlanSweepSpec {

  /** Plans that intentionally contain a bounded nested-loop side:
    * q34 — cosinePairs is a documented quadratic helper on a bounded subset;
    * q40/q42 — bruteForceTopK broadcasts the bounded query side into the
    * corpus cross join (the documented contract);
    * q43 — IVF probes ride the same broadcast-query machinery;
    * q27 — crossJoin(broadcast(nDocs)) where nDocs is a 1-row aggregate:
    * the lazy scalar-subquery idiom, bounded to exactly one row. */
  private val boundedNested = Set(
    "q34_embedding_pairs", "q40_knn_bruteforce", "q42_knn_classify", "q43_ann_ivf",
    "q27_token_rarity",
    // q45 — crossJoin(broadcast(g)) where g is the 1-row corpus statistics
    // aggregate: the same lazy scalar-subquery idiom as q27's nDocs
    "q45_keyword_rank",
    // q219 — each HITS half-step normalizes by crossJoin(broadcast(m))
    // where m is the 1-row max aggregate of the checkpointed sums
    "q219_hits",
    // q216 — BM25's crossJoin(broadcast(cst)): the 1-row chunk-corpus
    // statistics aggregate, q174's exact idiom
    "q216_rag_serve",
    // q220 — crossJoin(broadcast(tot)): the 1-row ECE aggregate over the
    // 10-row bin table
    "q220_calibration_ece",
    // q53/q55/q56 — crossJoin(broadcast(x)) where x is a 1-row aggregate
    // (the ≤k candidate array / the 15 stripe cut-points / the max source
    // token total): same idiom
    "q53_heavy_hitters", "q55_curriculum", "q56_mixture_resample",
    // q36 — crossJoin(broadcast(cuts)) where cuts is the 1-row stripe
    // min/max cut-point aggregate (StripedWindow.withRangeStripe)
    "q36_sequence_pack",
    // q51/q75 — crossJoin(broadcast(bloom)) where bloom is the 1-row lazy
    // bitset aggregate (BloomBuildAggregate): same 1-row idiom
    "q51_contamination_bloom", "q75_decontaminate",
    // q78 — the recall report: q34's bounded-quadratic exact baseline +
    // q40/q43's broadcast machinery + 1-row count cross joins
    "q78_ann_recall",
    // q127 — PQ/ADC: the bounded query side (LUT rows, queries ≪ corpus)
    // broadcasts into the code-scan cross join, the bruteForceTopK contract
    "q127_ann_pq",
    // q128 — IVF+PQ: same broadcast-query machinery over the probed-cell
    // join (q43's contract) plus the broadcast shortlist re-rank
    "q128_ann_ivfpq",
    // q129 — crossJoin(broadcast(g)) where g is the 1-row corpus token
    // total: the q27/q45 lazy scalar-subquery idiom
    "q129_source_divergence",
    // q160 — the MMR λ sweep rides q40's bruteForceTopK broadcast-query
    // machinery (queries ≪ corpus), the same bounded cross join as q147
    "q160_mmr_lambda_sweep",
    // q161 — crossJoin(broadcast(allExact)): the 1-row global exact-count
    // aggregate beside the merged sketch, the q27 scalar idiom
    "q161_kmv_sketch",
    // q164 — crossJoin(broadcast(nc)): the 1-row candidate-count aggregate
    // beside the per-threshold recall rows, the same scalar idiom
    "q164_lsh_dedup_recall",
    // q166 — the exact-top5 ground truth is q40's bounded broadcast-query
    // scan (the 1-in-25 query slice broadcasts into the corpus scan)
    "q166_ann_recall_exact",
    // q169 — the same bounded broadcast-query scan builds the MMR
    // shortlist (queries ≪ corpus); the greedy itself is in-row
    "q169_mmr_exact",
    // q171 — the exact-top5 ground truth is the same bounded
    // broadcast-query scan (q166's shape)
    "q171_ivf_recall_exact",
    // q172 — two bounded broadcast-query scans (exact ground truth + the
    // ADC code scan; queries ≪ corpus)
    "q172_pq_recall_exact",
    // q174 — crossJoin(broadcast(st)) where st is the 1-row corpus length
    // statistics aggregate (N, Σdl): the q27/q45 lazy scalar idiom
    "q174_bm25_topk",
    // q176 — crossJoin(broadcast(st)) where st is the 1-row LM totals
    // aggregate (V, D_t, D_r): the same scalar idiom
    "q176_dsir_weights",
    // q162 — per-round crossJoin(broadcast(dm × scalars)): q136's 1-row
    // dangling/seed-count scalar idiom
    "q162_personalized_pagerank",
    // q136 — per-round crossJoin(broadcast(share)) where share is the 1-row
    // dangling-mass scalar (dm × damping div |V|): the same 1-row idiom,
    // once per PageRank iteration
    "q136_pagerank",
    // q133 — three crossJoin(broadcast(·)) of 1-row count aggregates (the
    // audit rows), the same scalar idiom
    "q133_forget_cascade",
    // q135 — the bounded query side broadcasts into the corpus cross join,
    // q40's bruteForceTopK contract
    "q135_matryoshka_recall",
    // q93 — the fuzzy-match quadratic runs over the DISTINCT-NAME
    // dictionary (64 names at every sf; vocabulary-bounded, not
    // corpus-sized), broadcast as an inequality nested loop
    "q93_fuzzy_name_pairs",
    // q109/q110 — the densification scaffold: nation dimension × the
    // calendar derived from a 1-row bounds aggregate (25 × ~345, bounded
    // by design, never corpus-sized)
    "q109_densify_gaps", "q110_longest_gap",
    // q94/q95/q111 — crossJoin(broadcast(x)) where x is the 1-row
    // grand-total aggregate: the same lazy scalar-subquery idiom as
    // q27/q45
    "q94_collocations", "q95_price_histogram", "q111_cooccurrence",
    "q113_growth_curve", "q115_keyword_extract",
    // q119 — crossJoin(broadcast(cuts)) where cuts is the 1-row decile
    // aggregate: the same idiom as q55's cut points
    "q119_equidepth_histogram",
    // q122 — the trailing-window self-joins run over the per-DAY series
    // (≤ #periods rows, ~30 here; period-bounded, never corpus-sized),
    // broadcast as calendar-inequality nested loops — q109's scaffold
    // argument
    "q122_volume_anomaly",
    // q140 — q93's dictionary-bounded fuzzy quadratic (64 distinct names),
    // broadcast as an inequality nested loop over the vocab, never parts
    "q140_entity_groups",
    // q143 — two crossJoin(broadcast(·)) of 1-row aggregates (the stripe
    // cut-points and the corpus weight total): the q27/q36 scalar idiom
    "q143_pps_sample",
    // q147 — the bounded query side broadcasts into the corpus cross join
    // (q40's bruteForceTopK contract feeding the MMR re-rank)
    "q147_mmr_rerank",
    // q149 — same bruteForceTopK broadcast-query contract feeding the
    // ranking-metrics pivot
    "q149_retrieval_eval",
    // q153 — q93's dictionary-bounded broadcast quadratic with the JW
    // scorer (64 distinct names, never parts)
    "q153_jaro_winkler",
    // q154/q155 — crossJoin(broadcast(cuts)): the 1-row stripe cut-point
    // aggregate, q36's StripedWindow idiom
    "q154_trimmed_mean", "q155_trend_robust",
    // q159 — crossJoin(broadcast(m)): the 1-row first-day aggregate,
    // the q27 scalar idiom
    "q159_ols_trend",
    // q157 — crossJoin(broadcast(cuts)): the pack stage's 1-row stripe
    // cut-point aggregate, the same q36 StripedWindow idiom
    "q157_corpus_shards",
    // q182 — crossJoin(broadcast(gcum)) over the bucket DICTIONARY (the
    // bounded QI-groups × buckets grid, q109's scaffold argument) plus
    // crossJoin(broadcast(tot)), the 1-row (N, m) scalar idiom
    "q182_t_closeness",
    // q185 — the bounded query side broadcasts into the corpus pair scan,
    // q40's bruteForceTopK contract feeding the three rankers
    "q185_hybrid_rrf",
    // q180 — crossJoin(broadcast(cuts)): the audit rank's 1-row stripe
    // min/max cut-point aggregate, q36's StripedWindow idiom
    "q180_quantile_sketch",
    // q187 — crossJoin(broadcast(gb)) over the bucket DICTIONARY (the
    // bounded sources × buckets grid) + crossJoin(broadcast(tot)), the
    // q182 scaffold
    "q187_chi2_drift",
    // q194 — crossJoin(broadcast(tot)) where tot is the 1-row strata
    // total: the q27/q45 lazy scalar-subquery idiom
    "q194_stratified_sample",
    // q198 — crossJoin(broadcast(x)) of 1-row aggregates (the exact join
    // size and the (n_left, n_right) scalar pair): the q27/q45 idiom
    "q198_join_card_est",
    // q199 — crossJoin(broadcast(g)) over the 9-row LITERAL Benford
    // grid: a constant-sized dictionary, the q109 scaffold argument
    "q199_benford_audit",
    // q202 — the exact-top5 ground truth is q166's bounded
    // broadcast-query scan (the 1-in-25 slice into the corpus)
    "q202_ann_mcnemar",
    // q204 — crossJoin(broadcast(h)) where h is the 1-row horizon
    // aggregate: the q27/q45 lazy scalar-subquery idiom
    "q204_kaplan_meier",
    // q207 — crossJoin(broadcast(x)) of the two 1-row catch-count
    // aggregates beside the overlap count: the q27/q45 scalar idiom
    "q207_chapman_coverage",
    // q191 — crossJoin(broadcast(grid)) over the distinct-value
    // DICTIONARY (the bounded sources × values ECDF grid, q187's
    // scaffold) + crossJoin(broadcast(tot)), the 1-row scalar idiom
    "q191_ks_drift",
    // q208 — crossJoin(broadcast(tot)) of the 1-row accuracy
    // aggregate onto the confusion matrix: the q27/q45 scalar idiom
    "q208_langid_confusion",
    // q211 — the segment-pair grid (6-row dictionary < against itself)
    // and the OR-condition sketch membership join over the 6×128-row
    // sketch dictionary: both dictionary-bounded, never corpus rows
    "q211_kmv_set_ops",
    // q214 — the broadcast-anchor sim scan (anchors = the 1-in-25 audit
    // slice, q166/q202's bounded contract), joined on <> by design
    "q214_hard_negatives")

  /** Builders that EXECUTE heavyweight work eagerly (q50 trains and
    * evaluates four classifiers at build time): skipped here — a plan-string
    * check should not pay for a training run; their plans are exercised by
    * their own specs and the Verify gate. */
  private val eagerHeavy = Set("q50_ml_train_eval")

  /** Static initial-plan exchange counts (upper bounds). */
  val shuffleBudget: Map[String, Int] = Map(
    "q01_pricing_summary" -> 2, "q02_scan_project_filter" -> 1,
    "q03_join_broadcast" -> 2, "q04_join_sortmerge" -> 2,
    "q05_join_semi_anti" -> 3, "q06_agg_rollup" -> 2,
    "q07_pivot_confusion" -> 3, "q08_window_topk" -> 2,
    "q09_window_running" -> 2, "q10_setops" -> 3,
    "q11_dates_math" -> 2, "q12_balanced_sample" -> 2,
    "q13_agg_cube" -> 2, "q14_distinct" -> 3,
    // q16: 5 per-column aggs (2 exchanges each: partial→final) unioned —
    // deliberate; each scan reads ONE column and shuffles only distinct
    // values, vs the 6× row-amplifying Expand of a fused multi-distinct agg
    "q15_percentiles" -> 2, "q16_profile" -> 10,
    "q17_correlated_agg" -> 2, "q18_argminmax" -> 2,
    "q19_string_fns" -> 1, "q20_clean_text" -> 1,
    "q21_text_stats" -> 1, "q22_langid" -> 2,
    "q23_token_encode" -> 1, "q24_doc_fingerprint" -> 1,
    "q25_dataset_fingerprint" -> 2, "q26_stemmed_tokens" -> 1,
    "q27_token_rarity" -> 4, "q28_token_counts" -> 1,
    "q29_doc_assembly" -> 2, "q30_dedup_exact" -> 2,
    "q31_dedup_ngram_pairs" -> 7, "q32_dedup_minhash_sig" -> 1,
    "q33_dedup_simhash" -> 1, "q34_embedding_pairs" -> 0,
    // q36/q52/q55: +2–4 exchanges each from the striped two-phase window
    // (StripedWindow): the stripe-totals aggregate + its tiny offsets window
    // appear as separate subtrees, and q36/q55 plan the percentile cut-point
    // aggregate under both branches. Each added exchange carries either the
    // striped data (parallelism |keys| × stripes) or the |keys| × stripes
    // totals table — the trade that removed the per-key single-task sort.
    "q35_dedup_groups" -> 7, "q36_sequence_pack" -> 6,
    "q37_vocab_oov" -> 3, "q38_contamination" -> 3,
    "q39_quality_filter" -> 1, "q40_knn_bruteforce" -> 2,
    // q41: +2 in r21 — the explicit-N (band, key) repartition that keeps
    // the exploding bucket self-join out of AQE's byte-based coalescing
    // (it folded the ~2M-dot verify to ONE serial task); the subtree is
    // referenced by both join sides, so the static plan counts it twice
    // while execution reuses one exchange
    "q41_ann_lsh" -> 4, "q42_knn_classify" -> 2,
    "q43_ann_ivf" -> 3, "q44_embedding_quantize" -> 1,
    "q45_keyword_rank" -> 1, "q47_repetition_signals" -> 1,
    "q48_pii_scrub" -> 1, "q49_label_centroids" -> 2,
    // q51: +1 over the old literal-bitset plan — the lazy bloom build's
    // global aggregate plans a SinglePartition exchange carrying one
    // fixed-size buffer per partition (the price of job-free construction)
    "q51_contamination_bloom" -> 5,
    // q73: q59's decision subtree + the PK join back to documents
    "q73_dedup_apply" -> 4,
    // q74: salted two-phase agg = partial (key, salt) + final (key) + sort
    "q74_salted_agg" -> 3,
    // q75: q51's shape with the sides swapped (bloom agg + survivors join
    // + per-doc agg + left join back to train ids + sort)
    "q75_decontaminate" -> 4,
    "q52_data_mixture" -> 4, "q53_heavy_hitters" -> 2,
    // q56: the 20-row per-source aggregate subtree is planned twice (under
    // the 1-row max and under the rates join) + SinglePartition for the max
    // + the final sort — all source-cardinality-sized, never the corpus
    "q56_mixture_resample" -> 4, "q57_bigram_lm" -> 3,
    // q58: LM build (pair agg) + prefix agg + scoring re-join + final agg;
    // the top-20 sort rides the last exchange
    "q58_lm_surprisal" -> 4,
    // q59: static plan joins the (already-iterated) CC labels + n_chars +
    // one group-keyed window + sort; the CC rounds themselves execute at
    // build time exactly as q35's do
    "q59_dedup_keeplist" -> 4,
    "q54_group_outliers" -> 2, "q55_curriculum" -> 6,
    "q46_regional_revenue" -> 2, "q60_tumbling_window" -> 2,
    "q61_session_window" -> 2, "q62_asof_join" -> 2,
    "q63_sliding_window" -> 2, "q64_json_extract" -> 2,
    "q65_range_join" -> 1, "q66_value_moments" -> 2,
    "q67_funnel" -> 4, "q68_retention" -> 4,
    "q69_window_distinct" -> 3, "q70_media_features" -> 2,
    "q71_frame_sample" -> 2, "q72_video_meta" -> 2,
    // q76: the whole point — bucketed layout elides the join's AND the
    // aggregate's exchanges; the builder itself asserts zero
    "q76_bucketed_join" -> 0,
    // q77: one hash exchange per cogroup side + the final sort
    "q77_cogroup_funnel" -> 3,
    // q78: a REPORT, not a pipeline — 5 method rows × (a handful of 1-row
    // count aggregates riding SinglePartition exchanges) + the bounded
    // LSH/IVF candidate joins (+2 in r15 for the PQ row's shortlist agg and
    // its 1-row corpus count); every exchange carries either one row or a
    // bounded candidate set, never the corpus
    // +3 in r21: the q41 explicit-N band repartition (statically counted
    // per join-side reference, executed once via ReusedExchange)
    "q78_ann_recall" -> 28,
    // q79: per-lang agg (partial→final) + the presentation sort over the
    // merged two-generation scan
    "q79_schema_evolution" -> 2,
    // q80: one pair-graph derivation (the checkpointed dup id-set + iterated
    // CC labels arrive as LogicalRDDs) + survivor anti-join, keep window,
    // final assembly joins + sort
    "q80_dedup_incremental" -> 9,
    // q81: dim build + both sides' (key, salt) shuffles + final agg + sort —
    // the (key, salt) exchanges ARE the operator (hot key fans over buckets)
    "q81_salted_join" -> 5,
    // q82: per-lang agg (partial→final) + sort over the ORC scan
    "q82_orc_roundtrip" -> 2,
    // q83: per-flag agg (partial→final) + sort over the z-ordered scan
    "q83_zorder_scan" -> 2,
    // q84: pure per-row explode + the presentation sort
    "q84_doc_chunks" -> 1,
    // q85: per-source agg (partial→final) + sort over the partition-pruned
    // scan — pruning itself is planning-time, no exchange
    "q85_partition_pruned_scan" -> 2,
    // q86/q87: pure scan + the presentation sort (round-trip queries)
    "q86_csv_roundtrip" -> 1,
    "q87_json_roundtrip" -> 1,
    // q179: pure scan of the XML layout + presentation sort (q86's shape)
    "q179_xml_roundtrip" -> 1,
    // q88: candidate distinct + presentation sort carry the exchanges; the
    // band self-join and both shingle-set rejoins broadcast at test scale
    // (the bounded candidate set is broadcast-sized by construction)
    "q88_dedup_minhash_pairs" -> 4,
    // q89: per-source agg (partial→final) + sort over the dict-z-ordered
    // scan — same shape as q83
    "q89_zorder_dict_scan" -> 2,
    // q90: broadcast anti join (no corpus shuffle) + union + the
    // presentation sort
    "q90_merge_upsert" -> 1,
    // q91: per-flag agg + Expand (no shuffle) + presentation sort
    "q91_unpivot" -> 2,
    // q92: per-user lag window's hash partition + pair agg
    // (partial→final) + the |event_type|²-bounded totals window's
    // repartition on prev_type + presentation sort — ONE event-stream
    // scan (the totals ride a window over the aggregated table, not a
    // broadcast-join that would duplicate the corpus subtree)
    "q92_event_transitions" -> 4,
    // q93: the distinct-name agg (partial→final) planned under both sides
    // of the dictionary nested loop (the broadcast side re-aggregates) +
    // presentation sort
    "q93_fuzzy_name_pairs" -> 3,
    // q94: the bigram pair agg subtree planned under the main branch and
    // the two broadcast marginals (prefix/suffix re-aggregate it) + the
    // 1-row total + presentation sort
    "q94_collocations" -> 7,
    // q95: bucket agg (partial→final) under both the main branch and the
    // 1-row total subtree + the bounded global window's SinglePartition
    // (input = the ~20-bucket histogram, documented in the scaladoc)
    "q95_price_histogram" -> 4,
    // q96: one scan + Expand (3 grouping sets) + agg (partial→final) +
    // presentation sort
    "q96_grouping_sets" -> 2,
    // q97: one hash partition per snapshot side (16-byte fingerprints,
    // never document bodies) for the co-partitioned full-outer +
    // presentation sort
    "q97_table_diff" -> 3,
    // q98: per-user rank window's hash partition + path agg
    // (partial→final) + presentation sort; the per-user path assembly is
    // an in-row 3-element sort, not an exchange
    "q98_event_paths" -> 3,
    // q99: weekly agg (partial→final) + the calendar-bounded global
    // window's SinglePartition (input = the ≤~350-week series, documented
    // in the scaladoc); the final sort reuses the window's ordering
    "q99_weekly_wow" -> 2,
    // q100: (doc, token) distinct + token-keyed agg (the bounded-heap
    // posting aggregate map-side combines) + presentation sort
    "q100_inverted_index" -> 3,
    // q101: per-flag sufficient-statistics agg (partial→final) +
    // presentation sort
    "q101_correlation" -> 2,
    // q102: weekly agg (partial→final) + the calendar-bounded sliding
    // frame's SinglePartition (q99's bounded-window argument)
    "q102_rolling_revenue" -> 2,
    // q103: pure scan of the merged layout + presentation sort (the
    // overwrite itself is the sentinel-guarded one-time build step)
    "q103_partition_overwrite" -> 1,
    // q104: pure scan of the compacted layout + presentation sort
    "q104_compaction" -> 1,
    // q105: fused conditional-count agg + the key-distinct agg + the anti
    // join's child agg + union + presentation sort
    "q105_quality_gate" -> 5,
    // q106: one fused conditional-count agg (partial→final) over the
    // corrupted view; Expand adds no shuffle; presentation sort is on 3
    // rows
    "q106_vector_hygiene" -> 2,
    // q107: the session window's user_id hash partition + presentation
    // sort — the second-level per-user aggregate REUSES the window's
    // partitioning (no extra exchange for the rollup)
    "q107_session_metrics" -> 2,
    // q108: fact agg (partial→final, dims broadcast) + the 25-row
    // windows' r_name repartition + presentation sort
    "q108_revenue_share" -> 3,
    // q109: observed-cells distinct (partial→final) planned under the
    // scaffold's nation side and the anti join's probe side + the 1-row
    // bounds agg + presentation sort
    "q109_densify_gaps" -> 5,
    // q110: q109's shape + the bounded islands window's n_name partition
    // (run grouping and the final reduce reuse it)
    "q110_longest_gap" -> 6,
    // q111: the basket-distinct subtree (2 exchanges) is planned under
    // the pair self-join's two sides, both item marginals, and the 1-row
    // user count (no static reuse pre-AQE; runtime ReuseExchange dedupes)
    "q111_cooccurrence" -> 10,
    // q112: terminator explode + doc-keyed agg (partial→final) +
    // presentation sort
    "q112_sentence_stats" -> 2,
    // q113: the two-level first-seen/hourly agg subtree planned under the
    // main branch and the 1-row total + the hour-bounded cumulative
    // window's SinglePartition + presentation sort
    "q113_growth_curve" -> 6,
    // q114: the two exact-median aggregates (each partial→final over the
    // |event_type|-keyed groups) + the final fence agg; the event stream
    // itself never shuffles — both medians broadcast back
    "q114_robust_outliers" -> 5,
    // q115: tf agg + df distinct+agg + the unhinted token join + the
    // per-doc rank window's repartition + 1-row n_docs + keyword agg
    // (reuses the window's doc partitioning)
    "q115_keyword_extract" -> 6,
    // q116 (single-pass rewrite): shingle groupBy + (src_a, src_b) counts
    // agg + the single-row map/array pack + the presentation sort — the
    // corpus is scanned and shuffled exactly once
    "q116_source_overlap" -> 4,
    // q125: the bounded-heap gram agg (partial→final, ONE corpus shuffle)
    // + the islands window on (id_a, id_b, diag) — the span groupBy reuses
    // the window's partitioning and the top-100 is TakeOrdered, no exchange
    "q125_span_pairs" -> 2,
    // q126: q125's two + the per-doc interval-merge window (the span agg's
    // output re-keyed on the cut doc) + the doc-keyed join that carries the
    // merged interval lists back to the corpus
    "q126_span_scrub" -> 4,
    // q127: the ADC top-shortlist bounded-heap agg (partial→final) + the
    // re-rank's shortlist-keyed agg + presentation sort; the code scan and
    // the refine join ride broadcasts, the corpus never shuffles
    "q127_ann_pq" -> 3,
    // q128: q127's three + the probe-side cell-rank window over the tiny
    // query × centroid table; the probed-cell join and the refine both
    // ride broadcasts — the corpus still never shuffles
    "q128_ann_ivfpq" -> 4,
    // q129: two deliberate corpus scans (the explode-free totals pass +
    // the (source,token) counts — TV's nonlinear |·| needs the totals
    // before the final aggregate), each partial→final; then the
    // vocab-keyed regroup, the per-source aggregate (sources-bounded),
    // and the presentation sort — every exchange past the counts carries
    // vocab- or sources-bounded rows
    "q129_source_divergence" -> 7,
    // q130: the daily (type, day) agg — the one corpus-sized shuffle —
    // then the day-keyed regroup (days-bounded), the pair agg
    // (|types|²-bounded), and the presentation sort
    "q130_series_correlation" -> 4,
    // q131: every join rides a broadcast of the delta's key projection
    // (the Merge contract) — the only exchange is the presentation sort
    "q131_scd2_history" -> 1,
    // q132: the base-state agg + the delta-state agg (each partial→final
    // over ITS slice — in production the base is a stored view, not a
    // recompute) + the merge agg over view-sized rows; presentation sort
    // rides the merge's partitioning
    "q132_mv_refresh" -> 3,
    // q133: six 1-row count aggregates (partial→final each is one
    // SinglePartition exchange) — every cascade semi-join broadcasts the
    // previous step's key projection, so no fact table ever shuffles
    "q133_forget_cascade" -> 6,
    // q134: one key shuffle per generation into the full-outer sort-merge
    // diff + the presentation sort — the snapshot-diff minimum
    "q134_cdc_feed" -> 3,
    // q135: the query_id rank window (ALL four ranks share its partition)
    // + the 1-row recall aggregate — the pair table is built and ranked in
    // one pass, no per-config join
    "q135_matryoshka_recall" -> 2,
    // q117: the Expand-free percentile agg + the distinct agg (its Expand
    // doubles only the narrow projection) unioned + presentation sort —
    // q117 (r17 oracle rewrite): KMV pass = narrow distinct projection +
    // bottom-k agg (partial→final); sample pass = bottom-1024 agg + the
    // exact/sample percentile join; + presentation sort — every exchange
    // past the distinct carries |event_type|-sized or sample-bounded rows
    "q117_sketch_report" -> 5,
    // q118: per-key fan-out agg over the orderkey join (partial→final) +
    // the ≤8-row histogram's share window + presentation sort
    "q118_fanout_profile" -> 3,
    // q119: the 1-row decile agg + bucket agg (partial→final) +
    // presentation sort
    "q119_equidepth_histogram" -> 3,
    // q120: pure scan of the per-partition-compacted layout +
    // presentation sort (q104's shape over the Hive layout)
    "q120_compaction_partitioned" -> 1,
    // q124: dedup groupBy on text + winner join back on doc_id + the two
    // bounded (lang, source) accounting aggregates ride AQE-coalesced
    // exchanges; the final bounded join broadcasts
    "q124_pipeline_corpus" -> 4,
    // q123: q35's static resolution shape on the cosine-pair graph — CC
    // labels join + group-sizes agg + its join back + final sort, with the
    // labels/sizes subtrees planned under two branches (the CC rounds
    // themselves execute at build time exactly as q35's do)
    "q123_semantic_dedup" -> 7,
    // q218: q123's resolution shape over the full-corpus LSH candidate
    // graph (CC rounds execute at build); same labels/sizes branches
    "q218_semantic_dedup_full" -> 7,
    // q220: one embarrassingly parallel scan + the 10-row bin aggregate
    // (+ its 1-row ECE broadcast subtree) + presentation sort
    "q220_calibration_ece" -> 5,
    // q221: the memoized series base + the shared nation-keyed window
    // exchange + the changepoint rank + the (nation, segment) OLS agg +
    // pivot + presentation sort
    "q221_piecewise_trend" -> 8,
    // q222: the CC labels join + the group-keyed window exchange +
    // presentation sort over the checkpointed assignment relation (the
    // cluster-local pair join and CC rounds execute at build)
    "q222_semdedup_clusters" -> 6,
    // q223: the memoized series base + per-nation stats + the shared
    // nation-keyed lag windows (d, then e) + two 25-row aggregates +
    // presentation sort
    "q223_ljung_box" -> 8,
    // q224: two (label, half, dim) sufficient-statistic aggregates +
    // the centroid/shift/inertia joins on the dictionary-sized cent
    // relation + presentation sort
    "q224_embedding_drift" -> 9,
    // q121: one n_name window exchange shared by both window specs (two
    // sorts, one partitioning) + presentation sort; dims broadcast
    "q121_rank_distribution" -> 2,
    // q122: the corpus-scale day-count agg subtree is planned under every
    // series branch (pairs i/j, med, dev, mad, report — no static reuse
    // pre-AQE; runtime ReuseExchange dedupes, q111's argument) +
    // presentation sort
    "q122_volume_anomaly" -> 11,
    // q168: per-source norm agg + the |source|×dims centroid agg (each
    // partial→final) + their bounded join + presentation sort; the fit
    // itself runs at build (eager set)
    "q168_w2v_report" -> 4,
    // q166: two banded-candidate branches (band-key join + distinct + the
    // per-query candidate count, each partial→final) sharing the top5
    // window subtree + final union's presentation sort; every exchange
    // carries band keys, candidate pairs, or |Q|-sized report rows
    "q166_ann_recall_exact" -> 13,
    // q169: shortlist window + the per-query collect_list aggregate
    // (partial→final) + presentation sort — the greedy itself is in-row
    // (IntMmrExpression), adding zero exchanges
    "q169_mmr_exact" -> 4,
    // q171: cell-routing join (probes × cells, cid-keyed) + per-query
    // candidate count + the top5 window + report join + presentation sort
    // — every exchange carries cell ids, probed candidates, or |Q| rows;
    // the Lloyd rounds run at build (eager set)
    "q171_ivf_recall_exact" -> 6,
    // q172: the ADC shortlist window + the exact-top5 window + report
    // aggregate + presentation sort — code encoding and the per-subspace
    // LUT distances are in-row against codebook literals; the 4 Lloyd
    // chains run at build (eager set)
    "q172_pq_recall_exact" -> 6,
    // q173: sketch-cell agg + exact-count agg (its top-20 rides
    // TakeOrdered, no exchange) + the post-broadcast-probe (w, t) min-agg
    // + presentation sort — every exchange carries (w, j, bucket) cells
    // or top-20 key rows, never the corpus twice
    "q173_cms_sketch" -> 4,
    // q174: tf agg + df distinct+agg + dl-keyed join + the query-term
    // window + the (query, doc) pivot agg + rank window + presentation
    // sort — the query dictionary and the 1-row length stats broadcast
    "q174_bm25_topk" -> 9,
    // q170: the declared plan is the final assignment's in-row argmin over
    // centroid literals + the cluster aggregate (partial→final) + the
    // broadcast centroid join's presentation sort — the Lloyd rounds
    // themselves run at build (eager set, q141's iterative contract)
    "q170_kmeans_exact" -> 2,
    // q177: the (nation, day) revenue aggregate + the per-nation series
    // collect + presentation sort — the EWMA fold is in-row over the
    // calendar-bounded array; supplier/nation dims broadcast
    "q177_ewma_trend" -> 3,
    // q176: two pair-keyed LM aggregates + their full-outer merge + the
    // raw-stream re-join on the pair key + the per-doc sum — selection is
    // TakeOrdered (no exchange); totals ride the broadcast scalar
    "q176_dsir_weights" -> 9,
    // q175: per round ONE nbr-keyed label join + the (node, label) count
    // + the node-partitioned argmax window over the checkpointed
    // adjacency, then the size aggregate + its join back + presentation
    // sort — rounds shuffle node-sized label relations only
    "q175_label_propagation" -> 14,
    // q167: the declared census runs over the checkpointed edge-dictionary
    // RDD — degree agg (partial→final) + triangle-corner explode agg +
    // the deg⋈tri join + presentation sort; the 3-way wedge join itself
    // broadcasts the dictionary-sized edge sides
    "q167_triangle_count" -> 7,
    // q136: every round is cut behind a localCheckpoint (two references to
    // the rank relation per round — dangling + contributions — would
    // otherwise double the plan per round), so the declared plan is the
    // LAST round over RDD leaves: final-round joins/agg + presentation sort
    "q136_pagerank" -> 12,
    // q137: QI agg (partial→final) + presentation sort — one scan
    "q137_k_anonymity" -> 2,
    // q178: the (QI, sensitive) agg + the QI rollup (each partial→final)
    // + presentation sort — one scan, report sized by QI combinations
    "q178_l_diversity" -> 3,
    // q138: manifest agg (partial→final) + presentation sort — one scan
    "q138_manifest_checksums" -> 2,
    // q149: the top-k agg (partial→final, q40's shape) — the rank pivot
    // reuses its query_id partitioning; presentation sort rides it
    "q149_retrieval_eval" -> 2,
    // q148/q150: the block-key self-join's exchange + the pair-dedup agg
    // (the presentation sort rides it) — q33's pigeonhole shape over
    // image / audio hashes
    "q148_image_dedup" -> 2, "q150_audio_dedup" -> 2,
    // q151: two asof hops = two keyed union-windows + presentation sort
    "q151_pit_features" -> 3,
    // q152: ONE user_id exchange shared by the three chained pattern
    // windows + the distinct agg (reuses the partitioning) + sort
    "q152_event_pattern" -> 3,
    // q153: the distinct-name agg planned under both sides of the
    // dictionary nested loop + presentation sort (q93's shape)
    "q153_jaro_winkler" -> 3,
    // q158: the distinct-name agg + the vocab-bounded dictionary
    // window's SinglePartition (q95's bounded-window argument) + the
    // 3-way union (no exchange) + presentation sort
    "q158_sorted_neighborhood" -> 9,
    // q156: fold agg (partial→final) + presentation sort — one scan
    "q156_cv_folds" -> 2,
    // q157: the capstone composition — stats scan agg + dedup text key +
    // decon anti-join + the SPAN-SCRUB stage (gram groupBy, islands window,
    // interval-merge windows, per-doc interval agg) + striped pack (q36's
    // +2-4 window subtrees). The survivor subtree is statically re-planned
    // under the span branch, the token branch, and the stripe-cuts branch
    // — identical exchanges, runtime ReuseExchange collapses them to one
    // computation (q122's argument); each stage linear, see the builder
    "q157_corpus_shards" -> 41,
    // q160: the shortlist top-k agg (partial→final) + the per-query
    // candidate collect + the |grid|-rows λ aggregate + presentation sort
    "q160_mmr_lambda_sweep" -> 4,
    // q161: the distinct (source, hash) key + per-source bottom-k sketch
    // agg + the global distinct/exact branches (re-planned under the merge
    // and the 1-row exact count; runtime ReuseExchange dedupes) + the
    // single-row merged-sketch agg + presentation sort
    "q161_kmv_sketch" -> 14,
    // q162: q136's shape — the declared plan is the LAST checkpointed
    // round over RDD leaves (final-round joins/agg) + the zero-mass
    // filter + presentation sort
    "q162_personalized_pagerank" -> 12,
    // q163: the broadcast eval-gram dictionary (its distinct is the one
    // eval-sized exchange) + the per-doc hit agg on doc_id + the per-doc
    // left join back + presentation sort
    "q163_ngram_decontaminate" -> 6,
    // q164: the exact side (rare-shingle agg + pair agg + sizes joins, the
    // q31 shape) + the banding side (band-key self-join + distinct) + the
    // threshold rollup + the 1-row candidate count + presentation sort
    "q164_lsh_dedup_recall" -> 16,
    // q165: q35's CC resolution (labels land in a checkpointed relation;
    // the declared plan is the per-cluster agg + the size re-key +
    // presentation sort over it, plus the pair-graph subtree)
    "q165_dedup_savings" -> 12,
    // q159: the day agg (one corpus shuffle, re-planned under the 1-row
    // first-day branch; runtime ReuseExchange dedupes) + the per-type
    // sufficient-stats agg + presentation sort
    "q159_ols_trend" -> 6,
    // q155: the day agg (the one corpus shuffle) is STATICALLY re-planned
    // under the pair sides, the counts branch, and the stripe-cuts scalar
    // (runtime ReuseExchange dedupes — q111's argument); every exchange
    // past it carries the period-bounded slope set
    "q155_trend_robust" -> 18,
    // q154: striped ranking = (type, stripe) window exchange + the tiny
    // stripe-offsets subtree + the 5-row counts broadcast + final agg +
    // presentation sort (q36's striped budget shape)
    "q154_trimmed_mean" -> 8,
    // q146: compression agg (partial→final) + presentation sort — one scan
    "q146_compression_quality" -> 2,
    // q147: the top-k agg (partial→final, q40's shape) + the per-query
    // collect agg reusing the gather join's broadcast — the MMR kernel
    // itself adds no exchange; presentation sort
    "q147_mmr_rerank" -> 3,
    // q144: pure scan of one committed version directory + the
    // presentation sort (version resolution is driver-side metadata)
    "q144_time_travel" -> 1,
    // q145: one manifest agg (partial→final) per snapshot side into the
    // manifest-sized full-outer join + presentation sort
    "q145_snapshot_diff" -> 3,
    // q143: the striped prefix sum's (stripe) window partition + the
    // stripe-offsets aggregate subtree (planned under the offsets join's
    // broadcast side too) + the 1-row weight total + presentation sort —
    // q36's striped machinery plus the PPS scalar
    "q143_pps_sample" -> 7,
    // q141: the merges learned at build land in a LocalRelation; the
    // declared plan is its presentation sort only
    "q141_bpe_merges" -> 1,
    // q142: the per-(lang, word) dictionary agg (partial→final) + the
    // per-lang rollup (re-keys the dictionary) + presentation sort — the
    // merge APPLY is a pure expression chain, no exchange
    "q142_bpe_fertility" -> 3,
    // q139: the range join's (user, band) exchanges + the purchase-keyed
    // window + the touch-type rollup (distinct adds its Expand leg) + the
    // '(none)' anti branch's purchase-side exchange + presentation sort
    "q139_attribution" -> 6,
    // q140: q35's static resolution shape over the dictionary graph — CC
    // labels join + sizes agg + name/entity/count joins + the dictionary
    // window's SinglePartition + final sort (every row vocab-bounded)
    "q140_entity_groups" -> 9,
    // q180: the rollup'd bottom-k sketch agg (partial→final) + the
    // striped audit rank (q36's two-phase window: intra-stripe window +
    // stripe-totals agg + offsets join) + the rollup'd count
    "q180_quantile_sketch" -> 9,
    // q181: the co-supply projection (pair agg + hub cap + distinct) into
    // the checkpointed dictionary, then 4 node-keyed min-relaxation
    // rounds + the degree agg — each round shuffles only the node-sized
    // distance relation
    "q181_hop_distance" -> 12,
    // q182: (QI,bucket) + QI + bucket aggs (partial→final) + the
    // group-partitioned cumulative window; grid/total ride as broadcasts
    "q182_t_closeness" -> 7,
    // q184: the (nation, day) revenue agg + the per-nation series
    // collect + the broadcast nation join
    "q184_holt_trend" -> 3,
    // q183: the declared plan reads the persisted d·w + 2k sketch state
    // (the stream ran at first build) — the KMV rank window, the quantile
    // (h, v) rank window feeding BOTH its part rows (r19), + the unions
    "q183_stream_sketch_state" -> 4,
    // q185: the three rank windows share the query_id exchange of the
    // broadcast-query pair scan; + the (query,cand) fused agg + the pick
    // window
    "q185_hybrid_rrf" -> 4,
    // q186: q184's shape — the (nation, day) agg + per-nation collect +
    // broadcast nation join
    "q186_holt_winters" -> 3,
    // q187: the (source, bucket) + source + bucket + totals aggs
    // (partial→final where corpus-sized) feeding the bounded grid
    "q187_chi2_drift" -> 6,
    // q188: q181's relaxation shape over the grouped (weighted) pair
    // dictionary — co-supply projection (pair agg + hub cap + weighted
    // pair agg) + 4 node-keyed min-plus rounds + presentation sort
    "q188_weighted_hops" -> 12,
    // q189: the (nation, day) agg + ONE nation-keyed exchange shared by
    // all three window passes (cumsum, totals, argmax) + presentation
    // sort
    "q189_cusum_changepoint" -> 3,
    // q190: the declared plan is the survivor degree agg + presentation
    // sort — the peel rounds sit behind per-round lazy checkpoint cuts
    // (each round: one (k, node) degree agg + two anti joins)
    "q190_kcore" -> 2,
    // q191: behind the (source, value) dictionary checkpoint — srcn/tot/
    // gc aggregates (gc's cumulative is a dictionary-sized single
    // partition), the dense grid's source-keyed window + per-source max,
    // presentation sort
    "q191_ks_drift" -> 7,
    // q192: behind the (nation, month) series checkpoint — the nk-keyed
    // pair join + S agg, n/ties aggregates, final joins, presentation
    // sort
    "q192_mann_kendall" -> 6,
    // q193: the declared plan is the survivor orientation union + degree
    // agg + presentation sort - the truss rounds sit behind per-round
    // lazy checkpoint cuts (each round: one wedge-support join + filter)
    "q193_ktruss" -> 2,
    // q194: strata-dictionary agg + the two dictionary-sized global
    // windows (remainder rank, leftover) + the stratum-keyed corpus rank
    // window + presentation sort
    "q194_stratified_sample" -> 6,
    // q195: the in-row k-struct distance pass + one cid-keyed aggregate
    // + presentation sort (centroids are memoized literals)
    "q195_silhouette" -> 2,
    // q196: one map-side-combined per-source conditional-count aggregate
    // + presentation sort
    "q196_cohens_kappa" -> 2,
    // q197: per audited column a key-count agg + count-of-counts agg +
    // the histogram-sized window, five audits unioned + presentation
    // sort
    "q197_skew_audit" -> 15,
    // q198: per audited pair two sketch-cell aggregates + the cell join
    // + per-(w,j) sum + per-w min, the key-dictionary exact join and the
    // 1-row scalar cross joins, three audits unioned + presentation sort
    "q198_join_card_est" -> 26,
    // q199: the unioned cents scan + (col, digit) agg + per-col totals,
    // the 9-row literal Benford grid broadcast, presentation sort
    "q199_benford_audit" -> 4,
    // q200: the user-keyed lead window + (from, to) agg behind the
    // dictionary checkpoint; totals, self-loop and stationary literals
    // join on the 5-type dictionary + presentation sort
    "q200_markov_stationary" -> 3,
    // q201: the (user, arm, day) conditional-max agg + the goal-keyed
    // cell agg + presentation sort
    "q201_ab_test" -> 3,
    // q202: the IVF cell routing + probe join, the banded bucket join +
    // distinct, the exact-top5 broadcast-query scan, two item joins +
    // one aggregate
    "q202_ann_mcnemar" -> 5,
    // q203: the (nation, day) agg + ONE nation-keyed exchange shared by
    // both rank windows + the per-nation aggregate + presentation sort
    "q203_spearman" -> 3,
    // q204: the per-user min/min agg, the day-keyed step agg + the
    // time-bounded reverse-cumulative window, the 1-row arrays collect +
    // presentation sort
    "q204_kaplan_meier" -> 4,
    // q205: the user-keyed pair join + the shared (user, purchase)
    // window exchange + the type-keyed aggregate + presentation sort
    "q205_attribution" -> 3,
    // q206: the (nation, replicate) weight aggregate over the xB
    // generator explode, the nation-keyed rank window, the point
    // estimate aggregate + final joins and presentation sort
    "q206_bootstrap_ci" -> 4,
    // q207: two banded bucket self-joins (each: band explode + pair
    // distinct) + the overlap pair join + three 1-row count aggregates
    "q207_chapman_coverage" -> 7,
    // q208: train (lang, gram) agg + lang-keyed rank window; held-out
    // (doc, gram) agg + profile join + (doc, lang) score agg + doc-keyed
    // argmax window; confusion agg + 1-row accuracy agg + final sort
    "q208_langid_confusion" -> 14,
    // q209: ONE bottom-k heap aggregate (map-side bounded) + the k-row
    // presentation sort — the no-window no-global-sort reservoir shape
    "q209_weighted_reservoir" -> 1,
    // q210: the (nation, day) series aggregate + the per-nation stats
    // aggregate + the shared nation-keyed lag window + the final sums
    // + presentation sort — all on the calendar-bounded series
    "q210_acf_audit" -> 5,
    // q211: the (segment, key) distinct + per-segment bottom-k heap +
    // the exact-audit distinct/counts/pair join (the reference half the
    // sketch replaces at scale) + dictionary-sized pair windows/aggs
    "q211_kmv_set_ops" -> 22,
    // q212: the banded hamming frame join (hammingPairs' pigeonhole
    // exchange) + the (clip, clip) match-count agg + presentation sort
    "q212_video_dedup" -> 3,
    // q213: one embarrassingly parallel scan + the presentation sort
    "q213_repetition_rules" -> 1,
    // q214: the label join onto the quantized corpus + the shared
    // anchor-keyed rank exchange (neg and pos windows) + the pos join
    "q214_hard_negatives" -> 3,
    // q215: q210's series aggregate + per-nation stats + the shared
    // nation-keyed lag exchange + final sums + presentation sort —
    // the Durbin-Levinson recursion itself is shuffle-free column math
    "q215_pacf_audit" -> 5,
    // q216: the serving chain end to end — chunk stats (cst) + chunk
    // tf/df aggs + the term-at-a-time BM25 joins + two query-keyed rank
    // windows + RRF agg + MMR collect + eval pivots; every exchange is
    // either a chunk/token-keyed aggregate or a query-keyed window, no
    // doc×query product anywhere
    "q216_rag_serve" -> 14,
    // q217: the memoized series base is checkpointed, so the plan carries
    // the per-nation stats agg + the nation-keyed lag exchange (appearing
    // twice statically — fit walk and backtest walk — AQE reuses the
    // canonicalized exchange at runtime) + the fit agg + the backtest agg
    // + the presentation sort; the Yule-Walker solve itself is
    // shuffle-free column math on 25 rows
    "q217_ar_fit" -> 7,
    // q219: the HITS rounds are materialized behind per-half-step
    // checkpoints at build, so the static plan carries only the LAST
    // half-steps' normalization (two 1-row max aggregates broadcast
    // back) + the two top-25 takes + the presentation sort
    "q219_hits" -> 5)
}

class PlanSweepSpec extends SparkSpec {
  import PlanSweepSpec._

  test("no unbounded nested-loop joins; every query within its shuffle budget") {
    val problems = SparkEntry.queries.flatMap { case (name, fn) =>
      if (eagerHeavy(name)) Seq.empty[String]
      else {
        val df = fn(spark, sf)
        // Output schemas must stay int64-safe: int128-backed wide decimals
        // (precision > 18) hash differently between Spark's parquet dump and
        // the DuckDB oracle in the driver's harness (r15: q138/q139/q145).
        // Wide-decimal math is fine INTERNALLY — it just can't be emitted.
        val wideDecimal = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] &&
            f.dataType.asInstanceOf[org.apache.spark.sql.types.DecimalType].precision > 18 =>
            s"$name: output column ${f.name} is ${f.dataType.simpleString} (precision > 18)"
        }
        val plan = df.queryExecution.executedPlan.toString
        val nested =
          if (!boundedNested(name) &&
            (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin")))
            Some(s"$name: unbounded nested-loop join")
          else None
        val shuffles = Profile.exchangeCount(plan)
        val budget = shuffleBudget.get(name)
        val over = budget match {
          case Some(b) if shuffles > b => Some(s"$name: $shuffles shuffles > budget $b")
          case None => Some(s"$name: missing from shuffleBudget (add it: $shuffles)")
          case _ => None
        }
        wideDecimal.toSeq ++ nested.toSeq ++ over.toSeq
      }
    }
    assert(problems.isEmpty, problems.mkString("; "))
  }
}
