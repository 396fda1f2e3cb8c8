"""Whole-registry plan budgets: every batch query's SHUFFLE count and
Python-node count, pinned exactly.

The per-query plan tests (test_plans.py) cover the flagship shapes; this
is the wholesale regression net — a refactor that sneaks an extra shuffle
or drops work into Python anywhere in the registry fails here with the
query's name.  Counts are shuffle exchanges only (BroadcastExchange is
free at the sizes the engine broadcasts by contract).

Both counts cover the query's final plan AND every SQL execution its
build runs: a ``localCheckpoint`` barrier, a driver-side ``collect`` or a
round loop executes its shuffles while ``fn()`` builds the DataFrame, and
those shuffles are as real as the ones left in the returned plan.  For a
build execution only the final adaptive plan counts (AQE descriptions
also print the initial plan, which never ran).

Budgets were generated by building each plan at sf0.001 (AQE on,
4 shuffle partitions — node COUNTS are partition-independent).  Streaming
queries are excluded: their fn() executes the stream; their shapes are
pinned in the streaming tests.
"""

import re

import pytest

from spark_ml_spatialjointransformer_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"

#: name -> (shuffle exchanges, python nodes)
BUDGETS = {
    "a2_rollup_pricing": (1, 0),
    "a3_regional_revenue": (1, 0),
    "a4_length_percentiles": (1, 0),
    "d3_moving_window": (1, 0),
    "d4_resample_daily": (2, 0),
    "d5_funnel": (3, 0),
    "p2_user_features": (1, 0),
    "p3_export_manifest": (0, 0),
    "t15_contamination": (2, 0),
    "t16_repetition": (0, 0),
    "t17_mixture_sample": (0, 0),
    "t18_corpus_freq_score": (2, 0),
    "t19_bm25": (2, 0),
    "t20_quality_filter": (0, 0),
    "t21_shard_assign": (1, 0),
    "t22_heavy_hitters": (2, 0),
    "t23_decontaminate": (2, 0),
    "t24_fuzzy_match": (0, 0),
    "v6_knn_join": (1, 1),
    "m3_image_resize": (0, 3),
    "j19_contains_partitioned": (1, 1),
    "j20_overlaps_partitioned": (1, 1),
    "t25_chunk_dedup": (1, 0),
    "t26_source_lift": (8, 0),
    "t27_novelty": (3, 0),
    "a5_cube_corpus": (1, 0),
    "t28_pii_scrub": (0, 0),
    "t29_bpe_pairs": (1, 0),
    "d6_snapshot_diff": (3, 0),
    "m4_audio_stats": (0, 2),
    "a6_skew_salted_agg": (2, 0),
    "j21_zorder_tiles": (1, 0),
    "t30_kmv_distinct": (4, 0),
    "p4_multimodal_pipeline": (1, 3),
    # one-pass kNN: the census aggregate, then the cell join's two sides
    "f2_transformer_knn_partitioned": (3, 0),
    "j22_within_left_outer": (3, 1),
    "j7_nearest_supplier": (1, 1),
    "j6_withindist_pairs": (1, 0),
    "j11_withindist_partitioned": (1, 0),
    "j16_knn3_supplier": (1, 1),
    "j12_nearest_partitioned": (3, 0),
    # + the settled-row census of the first pass (the cell join's two
    # sides again) before the final plan
    "j17_nearest_cond_partitioned": (5, 0),
    "j18_knn3_partitioned": (3, 0),
    "j2_within_nation": (1, 1),
    "j14_within_partitioned": (1, 1),
    "j3_contains_nation": (1, 1),
    "j4_intersects_rects": (1, 1),
    "j15_intersects_partitioned": (1, 1),
    "j5_overlaps_rects": (1, 1),
    "j8_theta_condition": (1, 0),
    "j13_withindist_wkt": (1, 1),
    "j9_nearest_customer_per_supplier": (1, 1),
    # r7: the simple != condition now rides the vectorized kNN kernel as a
    # numpy mask — same shape as the unconditioned j7 (one min-parallelism
    # exchange + the mapInPandas kernel) instead of BNLJ + 2-exchange
    # SortAggregate
    "j10_nearest_other_nation": (1, 1),
    "f1_filtered_nearest": (1, 1),
    "t1_token_count": (0, 0),
    "t3_quality_score": (0, 0),
    "t4_lang_id": (0, 0),
    "t10_bpe_token_count": (0, 0),
    "t2_dedup_exact": (1, 0),
    "t5_ngram_jaccard": (2, 2),
    # one banded self-join with the first-match filter (no pair distinct);
    # the band self-join and the signature attach joins broadcast at this
    # size
    "t6_minhash_lsh_pairs": (1, 1),
    "t7_simhash_pairs": (1, 1),
    "t8_winnow_fingerprints": (2, 1),
    "t9_dedup_keeper": (3, 1),
    "t11_dedup_closure": (13, 1),
    "t12_stratified_sample": (1, 1),
    "t13_sequence_packing": (4, 0),
    # r11: was (0, 1) — the 0 was an artifact of the localCheckpoint
    # barrier hiding the self-join's two shuffle reads behind a truncated
    # lineage.  The grouped per-bucket refine shows its ONE honest
    # (band, bucket) exchange in-plan (plus featurize + grouped-kernel
    # Python nodes) and needs no checkpoint at all.
    "v2_lsh_neardup": (1, 2),
    "m1_media_features": (0, 1),
    "m2_frame_sampling": (0, 1),
    "v3_ivf_topk": (1, 3),
    "v1_cosine_topk": (1, 0),
    "p1_training_pipeline": (10, 3),
    "v4_embedding_dedup": (3, 2),
    "t14_vocab_df": (2, 0),
    "v5_lsh_topk": (1, 3),
    "a1_pricing_summary": (1, 0),
    "d1_asof_join": (2, 0),
    "d2_range_join": (1, 0),
    "d7_gap_fill": (2, 0),
    "d8_scd2": (1, 0),
    # one heavy (nation, status) aggregation; the remaining exchanges
    # (pivot reshape, all-status total, reshape⋈total join) move a
    # ≤ 25×|status| pre-aggregated frame
    "a7_pivot_status": (4, 0),
    "v7_maxsim_topk": (1, 1),
    "t31_bloom_decontaminate": (3, 2),
    # iterative by design: degree agg + (join, agg) × 5 fixed rounds; the
    # static count includes the per-iteration deg-side exchange five
    # times, but all five read the once-checkpointed edge list and AQE
    # reuses the identical exchange at runtime
    "g1_pagerank": (16, 2),
    "a8_promo_revenue": (1, 0),
    "d9_merge_upsert": (2, 0),
    "v8_pq_adc_topk": (1, 1),
    "d10_retention_cohorts": (5, 0),
    # the fact×fact JOIN is exchange-free (bucketed scans); the single
    # shuffle is the 5-group priority aggregation
    "a9_bucketed_join": (1, 0),
    "t32_incremental_dedup": (2, 0),
    "t33_weighted_sample": (2, 0),
    "d11_twap": (1, 0),
    "j23_tile_heatmap": (3, 0),
    # Expand feeds ONE shuffle for all four granularities
    "a10_grouping_sets": (1, 0),
    # unigram agg (two static arms, one runtime ReusedExchange), bigram
    # agg, word-key joins (vocab is NOT broadcast by design), 1-row stat
    # collapses, top-20 TakeOrdered — no global sort
    "t34_pmi_collocations": (7, 0),
    # shingle distinct, df agg + prune join, per-doc size window, pair
    # self-join whose two arms are identical subtrees (runtime
    # ReusedExchange — no shingle recompute), pair agg
    "t35_containment_dedup": (8, 0),
    # the band join itself is exchange-free (bucketed scans); budget covers
    # the in-query bucketed WRITES of both sides
    "j24_bucketed_spatial": (2, 0),
    # synth → resize → ahash mapInPandas chain (partition-preserving);
    # the one shuffle is the window over the 8-byte hash
    "m5_image_phash_dedup": (1, 3),
    # degree agg + two degree-attach joins build the oriented list ONCE
    # (checkpointed — both wedge arms and the closing probe read the same
    # LogicalRDD); the rest is the wedge join, closing join, final agg
    "g2_triangles": (13, 2),
    # six-table Q5 shape: supplier chain broadcasts; at sf0.001 AQE also
    # broadcasts customer/orders so only the final agg shuffles — the
    # budget allows the genuine large-scale shape (two fact joins + agg)
    "a11_local_supplier_revenue": (5, 0),
    # synth+encode → decode+fingerprint mapInPandas chain; the one
    # shuffle is the window over the int64 fingerprint
    "m6_audio_fp_dedup": (1, 2),
    # per-partition JSONL export (side effect) + schema-given re-import:
    # the returned plan is a pure json scan + project
    "t36_jsonl_roundtrip": (0, 0),
    # everything keys on user_id: two rank passes + med/MAD attach joins
    # share one hash partitioning (identical subtrees reuse at runtime)
    "d12_mad_outliers": (4, 0),
    # the per-round frontier tables checkpoint (each round reads its
    # predecessor twice), so the returned plan is a bare LogicalRDD scan;
    # per-round shuffles are pinned by the operator's design docstring
    "g3_bfs_hops": (6, 2),
    # one fingerprint chain (JVM text expr + five Arrow passes), then
    # three stacked windows — one 8-byte-key exchange per modality
    "p5_crossmodal_dedup": (3, 5),
    # per round: one min-struct assignment agg + the (cluster, dim) and
    # cluster re-aggregations of the centroid mean; centroids broadcast
    "v9_kmeans": (7, 0),
    # the whole OHLC bar is ONE (user, day)-keyed aggregation: open and
    # close are arg-aggregate min/max-structs, not windows
    "d13_ohlc_bars": (1, 0),
    # the correlated-subquery shape decorrelated: one custkey agg + one
    # nation-window exchange; nation dim broadcast
    "a12_above_nation_avg": (2, 0),
    # one user-keyed exchange; the range frame is a two-pointer scan
    "d14_trailing_window": (1, 0),
    # one nation-keyed exchange into the applyInPandas medoid kernel
    "j25_nation_medoid": (1, 1),
    # Q3 shape: segment customers broadcast; at sf0.001 AQE broadcasts the
    # filtered orders side too, so only the orderkey agg shuffles — the
    # budget allows the genuine large-scale shape (orders⋈lineitem on
    # their own orderkey, agg reusing that partitioning, top-10 heap)
    "a13_shipping_priority": (2, 0),
    # 1-row mean agg + anti join + 25-group agg; the mean broadcasts back
    "a14_idle_high_balance": (2, 0),
    # both window passes and the island rollup share one user_id exchange
    "d15_gaps_islands": (1, 0),
    # chunk-hash distinct agg (2-phase), boilerplate join, removed-index
    # rollup, doc_id join back — only 8-byte hashes and index ints shuffle
    # (text never does); at sf0.001 AQE broadcasts the joins (3 observed)
    "t37_line_dedup": (6, 0),
    # register agg + per-type harmonic sum + exact-count sidecar; at most
    # |event_type|·256 register rows ever shuffle for the sketch
    "t38_hll_distinct": (5, 0),
    # pure per-row JVM higher-order folds over the parsed ring — no
    # shuffle, no Python
    "j26_polygon_area": (0, 0),
    # synth → frame-walk mapInPandas chain (partition-preserving); windows
    # and the scene rollup share one doc_id exchange of int64 rows
    "m7_scene_change": (1, 2),
    # partitioned write (side effect) + pruned re-read: the returned plan
    # is a 7-directory scan + one tiny day agg
    "p6_partitioned_export": (2, 0),
    # Q7 shape: both nation lookups broadcast; at sf0.001 AQE broadcasts
    # the fact joins too — the budget allows the genuine scale shape
    # (lineitem⋈orders⋈customer on their own keys + the 12-group agg)
    "a15_volume_shipping": (4, 0),
    # per-dim stats agg (tiny, collapses to two 1-row arrays), candidate
    # top-40 window, exact re-rank join + top-10 window; queries broadcast
    "v10_sq8_rerank": (6, 0),
    # the returned plan is the final survivor-degree agg (per-round edge
    # lists checkpoint; round shuffles are pinned in the operator design)
    "g4_kcore": (8, 2),
    # pure per-row explode of JVM window slices — no shuffle, no Python
    "t39_sliding_chunks": (0, 0),
    # first-match band join (no pair distinct) + the ≤9-cell agg; the
    # doc_id split joins broadcast
    "p7_split_leakage": (2, 1),
    # window and (nation, decile) rollup share one nation-keyed exchange
    "a16_balance_deciles": (1, 0),
    # synth → transcode → resize → ahash Arrow chain over a no-shuffle
    # union of the two container variants; binaries never shuffle
    "m8_crossformat_dedup": (0, 5),
    # both tiers' own plans (norms, candidate join, two top-10 windows)
    # + the queries×10 overlap join-agg
    "v11_lsh_recall": (7, 3),
    # broadcast nested-loop LEFT ANTI — each row tests 25 intervals,
    # nothing shuffles
    "j27_spatial_antijoin": (0, 0),
    # three register aggs (two shards + direct), the shard-merge agg,
    # and the tiny 5-row estimate join
    "t40_hll_merge": (5, 0),
    # broadcast part prune into the scan, per-part partial-agg shuffle,
    # stats join (AQE broadcasts it live), final 1-row agg
    "a17_small_qty_revenue": (3, 0),
    # one partial-agg shuffle on l_orderkey; both enrichment joins
    # broadcast the tiny HAVING survivor side
    "a18_large_volume_customers": (1, 0),
    # lag window and per-user rollup share one user_id exchange; trig in
    # whole-stage codegen
    "j28_trace_length": (1, 0),
    # 8 lag taps collapse into ONE Window node on one user_id exchange
    "d16_ewma": (1, 0),
    # (doc, char) combine bounds the first shuffle at docs×alphabet; the
    # per-doc rollup is the second
    "t41_char_entropy": (2, 0),
    # (order, supplier) combine, the shared l_orderkey window exchange,
    # final per-supplier agg; name join broadcasts
    "a19_blocking_supplier": (3, 0),
    # one fused corpus scan (cells+codes+masked ADC in one Arrow pass),
    # tiny per-query top-k window
    "v12_ivfpq_topk": (1, 1),
    # distinct-under-rollup: Expand + two-phase distinct agg = two
    # exchanges of partially-deduped rows
    "p8_dataset_card": (2, 0),
    # v2's banded pair pipeline (int keys only) + wedge join, degree agg,
    # anti-join, two degree joins
    "g5_link_prediction": (8, 2),
    # j6's grid prefilter join + min-struct agg + outer attach on custkey
    "j29_bounded_nearest": (2, 0),
    # (doc,term) combine, term-keyed DF agg + join, per-doc rank window;
    # the corpus count broadcasts
    "t42_tfidf_topterms": (5, 0),
    # synth→tile→hash: three partition-preserving Arrow passes read ONCE
    # (bucket sizes via count-over-window, not join-back); bucket window
    # exchange + doc agg
    "m9_region_dedup": (2, 3),
    # prefix tier broadcast cross join + shared qid window exchange for
    # both rank windows; re-rank joins broadcast
    "v13_matryoshka_rerank": (1, 0),
    # quarter-pruned orders AQE-broadcast into returned lineitem; one agg
    # exchange; top-20 is TakeOrderedAndProject
    "a20_returned_items": (1, 0),
    # custkey outer-join exchange + per-customer count; the tiny c_count
    # histogram agg
    "a21_customer_distribution": (2, 0),
    # 1-row stats broadcast; candidate anti-join + nation agg
    "a22_sales_opportunity": (2, 0),
    # quarter-pruned orders AQE-broadcast for the theta semi-join; one
    # 5-row priority agg exchange
    "a23_late_ship_priority": (1, 0),
    # ONE event_type exchange feeds the running-sum window and (via
    # ReuseExchange) the peak aggregate
    "d17_concurrent_intervals": (1, 0),
    # (doc_id, gh) distinct, gh-window count, per-doc rollup — int pairs
    # only, text never shuffles
    "t43_dup_ngram_spans": (3, 0),
    # per-round exchanges live behind the localCheckpoint barriers
    # (g3's accounting); final plan reads the checkpointed table
    "g6_weighted_sssp": (6, 2),
    # synth + moments Arrow passes; one 3-group map-combined agg
    "m10_channel_stats": (1, 2),
    # (label,i) centroid agg (reused thrice), broadcast-back distance
    # pass, per-vec + per-label aggs, tiny centroid self-join + window
    "v14_label_centroid_metrics": (7, 0),
    # (source,lang) combine (reused), 1-row total, broadcast-back
    "p9_temperature_mixture": (3, 0),
    # per-cell combine, 9-way offset re-agg, cell join
    "j30_grid_density_smooth": (3, 0),
    # numPartitions repartition + the spatial pair/refine exchanges;
    # 25 polygons broadcast
    "f3_transformer_within_filtered": (3, 1),
    # hash window + per-doc rollup — the text→chunks step is the fused
    # Arrow convolution kernel (r11: the deliberate ArrowEvalPython; it
    # emits per-doc DISTINCT chunk hashes, so the former distinct
    # exchange pair is gone — 3 shuffles → 2)
    "t44_cdc_chunk_dedup": (2, 1),
    # doc lag window, bigram/unigram count tables, stats joins, per-doc
    # rollup; vocab count broadcasts
    "t45_bigram_surprisal": (6, 0),
    # one orderkey join (AQE may broadcast the pruned side) + years agg
    "a24_late_priority_mix": (1, 0),
    # one user-keyed self-join exchange pair collapses via ReuseExchange;
    # type-pair agg
    "d18_interval_overlap": (1, 0),
    # one scan, one map-combined (lang, pred) count
    "t46_langid_confusion": (1, 0),
    # fp window + cell-rank window + cells agg on the ONE labeled frame
    # (checkpointed); holdout fps + quotas broadcast
    "p10_curation_decisions": (6, 0),
    # write+read roundtrips: per-partition files, zero shuffle
    "t47_csv_roundtrip": (0, 0),
    "t48_orc_roundtrip": (0, 0),
    # (nation, month) combine + one shared nation-window exchange
    "a25_revenue_momentum": (2, 0),
    # one scan, map-combined per-source hygiene profile
    "t49_charset_profile": (1, 0),
    # (user,type) distinct feeds both wedge arms + degrees + total
    # (lineage visible pre-materialization), wedge join, pair agg;
    # degree/total frames broadcast
    "g7_coengagement_lift": (6, 0),
    # one scan, one map-combined ≤168-group (dow, hod) aggregate
    "d19_seasonality_profile": (1, 0),
    # lineitem⋈orders exchange pair collapses under AQE broadcast at SF;
    # (year, nation) combine + ≤50-row share window
    "a26_market_share": (2, 0),
    # per-supplier combine + single-partition window on |suppliers| rows
    "a27_top_supplier": (2, 0),
    # part broadcasts (brand IN pushed to scan); one 3-group combine
    "a28_bracket_revenue": (1, 0),
    # user lag window + |types|² pair combine + ≤25-row norm window
    "g8_markov_transitions": (3, 0),
    # ONE event_type exchange serves all four windows + the rank window
    "d20_cusum_changepoint": (1, 0),
    # point→cell combine materializes behind the checkpoint during the
    # guarded driver union-find; final plan reads checkpoint + broadcast
    "j31_grid_dbscan": (4, 0),
    # synth + framing mapInPandas passes; one doc window/agg exchange
    "m11_audio_vad": (1, 2),
    # one map-combined 5-group moment aggregate
    "d21_trend_slope": (1, 0),
    # numPartitions repartition + spatial pair/refine exchanges;
    # suppliers broadcast
    "f4_transformer_withindist_condition": (3, 0),
    # all predicates pushed to the scan; one single-row global combine
    "a29_forecast_revenue": (1, 0),
    # ≤45-group digit combine + its share window exchange
    "d22_benford_audit": (2, 0),
    # edge-list distinct + user-weight join/combine; 1-row moment agg
    "g9_degree_assortativity": (4, 0),
    # two synth mapInPandas lanes; one 4-group sniff combine
    "m12_format_sniff": (1, 2),
    # anchors broadcast; one conditional-min/max combine per anchor
    "v15_triplet_mining": (1, 0),
    # broadcast-kNN Arrow kernel + vote combine + per-customer rank window
    "j32_knn_classify": (3, 1),
    # forward-kNN Arrow kernel + |suppliers| combine + zero-fill join
    "j33_reverse_knn": (2, 1),
    # one scan, pure translate/length codegen — no shuffle at all
    "t50_code_detection": (0, 0),
    # synth + decode/score mapInPandas passes; no shuffle
    "m13_blur_metric": (0, 2),
    # customer gap window + nation rank window + rollup joins
    "d23_repeat_cadence": (4, 0),
    # per-customer rollup + ONE nation exchange for all three windows
    "a30_revenue_pareto": (2, 0),
    # queries broadcast; one Hamming rank window; rerank stays in-row
    "v16_binary_quant_rerank": (1, 0),
    # cumsum + running max + rollup share one user exchange
    "d24_user_drawdown": (1, 0),
    # one 8-byte prefix-hash exchange (window + select)
    "t51_prefix_dedup": (1, 0),
    # k=2 broadcast-kNN Arrow kernel + per-customer window/pivot
    "j34_assignment_margin": (2, 1),
    # broadcast argmin Arrow kernel; numPartitions contract exchange +
    # the small-input parallelism-guard repartition (no-op at scale)
    "f5_transformer_polygon_nearest": (3, 2),
    # one source-keyed exchange serves the running sum and the cut
    "p11_token_budget_fill": (1, 0),
    # top-8 window exchange (scalars only) + the MMR groupBy exchange
    # (8 arrays per query); the candidate cut broadcasts against the
    # corpus so the array column never shuffles at any scale
    "v17_mmr_rerank": (2, 1),
    # lang predicate pushes to the documents scan; filtered-id join
    # broadcasts; ONE q-keyed exchange for the top-5 window
    "v18_filtered_topk": (1, 0),
    # one 8-byte-fingerprint exchange (global cluster-size window) +
    # one source exchange for the rollup
    "t52_dup_cluster_stats": (2, 0),
    # partitioned grid pair join; customer-keyed count/min combine +
    # zero-fill left join (AQE broadcasts the tiny sides at this SF)
    "j35_poi_density": (2, 0),
    # ONE user-keyed exchange serves the cummax, the break cumsum, and
    # the (user, session) rollup — variable-gap islands, no re-shuffle
    "d25_dynamic_sessions": (1, 0),
    # --- r9 additions ---
    # visit windows broadcast into the grid equi-key join (zero join
    # shuffles); the one exchange is the input-side parallelism
    # repartition before cell explode; interval condition + Int-meter
    # refine are post-pair JVM expressions
    "f6_transformer_interval_condition": (1, 0),
    # anchors decided in-kernel per doc (r11 fused Arrow kernel, below
    # the barrier); the span self-join + pair rollup share the span-hash
    # exchange (ints only — the text never leaves the scan side)
    "t53_span_dedup": (2, 1),
    # g2's triangle pipeline (13) + the degree<->triangle join; all
    # node-id-keyed int rows, one LSH lineage checkpoint
    "g10_clustering_coefficient": (14, 2),
    # ONE prefix-hash-keyed exchange (cluster-size window); the keep
    # decision and weight are scan-side expressions on two h60 ints
    "p12_soft_dedup_sample": (1, 0),
    # t53's in-kernel anchors (r11, below the barrier) + span-hash match
    # join + the islands re-window and doc rollup (doc_id-keyed, reuses
    # the exchange) — int rows only
    "t54_span_coverage": (3, 0),
    # ONE prefix-hash exchange (cluster-size window); the split cell is a
    # scan-side expression on the salted cluster hash
    "p13_group_split": (1, 0),
    # order dedup window + the union-merge as-of window (both user-keyed;
    # forward direction flips only the sort)
    "d26_asof_tolerance": (2, 0),
    # g1's two-exchange-per-iteration recurrence x5 + degree/seed-flag
    # setup joins; all node-id-keyed int rows, one LSH lineage checkpoint
    "g11_personalized_pagerank": (16, 2),
    # SRP feats Arrow pass runs once (checkpoint); centroid sums
    # broadcast back, so the exchanges are the affinity combine and the
    # cell rank window/self-join layout
    "v19_semdedup": (5, 1),
    # ONE user-keyed exchange shared by the lag window, the break
    # cumsum, and the (user, segment) rollup — d25's pattern with a
    # spatial jump rule in the break predicate
    "j36_stay_points": (1, 0),
    # one Arrow pass for the SRP cell ids; ONE cell-keyed exchange of
    # (int, int) rows serves the size window + rank window; embeddings
    # never shuffle (no pairwise work at all)
    "v20_cell_stratified_sample": (1, 1),
    # broadcast-kNN Arrow kernel + the customer-keyed IDW combine (the
    # second exchange is the small-input parallelism repartition)
    "j37_idw_interpolation": (2, 1),
    # wedge join (two node-keyed layouts) + per-edge count + zero-fill
    # left join back onto the checkpointed pair list — ints only
    "g12_local_bridges": (6, 2),
    # final-plan exchanges only: the wedge cut and Hash-Min rounds run
    # as their own checkpointed jobs (closure loop), so the registry
    # plan shows the label join + keeper rollup
    "v21_bridge_cut_keepers": (16, 2),
    # t11's closure machinery runs as checkpointed jobs; the final plan
    # is the doc_id-keyed quality join + ONE cluster-keyed election
    # window (ordered-window first(), no ranked/elected self-join)
    "t55_quality_keeper": (14, 1),
    # broadcast dim join + ONE quasi-key exchange for the count window
    "p14_k_anonymity": (1, 0),
    # bigrams drop to (doc_id, bucket) ints before the bucket-count
    # exchange; the 4096-row weight table broadcasts back; doc rollup
    # is the second exchange
    "t56_dsir_score": (2, 0),
    # global_rank's two-level decomposition: per-bucket count agg, the
    # B-row prefix window's exchange, and the ONE full-data bucket
    # window — never a corpus-wide single-partition sort
    "p15_curriculum_order": (5, 0),
    # every round's label join/count/argmax runs inside its own
    # checkpointed job (v21's class); the registry plan reads the
    # final checkpointed labels
    "g13_label_propagation": (6, 2),
    # --- r9 continuation ---
    # f5's class with the direction flipped: customers broadcast into
    # the Arrow argmin kernel; the exchanges are the numPartitions
    # contract repartition + supplier-side input parallelism
    "f7_transformer_input_broadcast": (2, 1),
    # g1's lazy-lineage class: 4 half-sweeps x (join + combine agg) plus
    # the node-set distinct and the final zero-fill joins — all
    # (int64, int64) node-keyed rows; edge list checkpoints once
    "g14_hits": (17, 2),
    # quote dim broadcasts; both bitemporal range predicates filter
    # inside the broadcast hash join; ONE event-keyed exchange for the
    # map-combinable max(struct) argmax
    "d27_bitemporal_asof": (1, 0),
    # checkpointed (source, fp) distinct set; the fp-keyed source-set
    # agg (pairs expand JVM-side in-row), the pair rollup, and the
    # |sources|-row size table (broadcast back) are the exchanges
    "t57_source_overlap": (5, 0),
    # checkpointed (source, token) counts; source totals, vocab totals
    # (broadcast into the grid), the grid's count join, and the source
    # rollup — grid rows are (string, int) pairs, never text
    "t58_source_tv_drift": (5, 0),
    # j6's grid join runs inside the checkpointed cell table; the final
    # plan is the two marginal rollups (broadcast back) + the total —
    # cells are |segments|x|nations| int rows forever
    "j38_colocation_lift": (5, 0),
    # v6's one-pass Arrow matmul kernel + ONE vec_id-keyed min combine
    "v22_knn_outliers": (2, 1),
    # ONE user-keyed exchange into the grouped Arrow recurrence kernel
    "d28_holt_trend": (1, 1),
    # scan-side codegen labels; ONE map-combinable source-keyed exchange
    # of four int counts
    "p16_label_agreement": (1, 0),
    # t9's LSH+verify machinery runs checkpointed; the flow stage is the
    # two doc_id-keyed source joins + the |sources|^2 matrix rollup
    "t59_dup_flow": (4, 1),
    # ONE cohort-keyed equi join of int triples + the (cohort, relation)
    # map-combinable rollup (<= 7 * |cohorts| output rows)
    "d29_interval_relations": (1, 0),
    # final plan reads the checkpointed calendar grid twice against
    # broadcast lag/side frames; the ONE exchange is the (pair, lag)
    # moment rollup — grid size is calendar-bounded, not data-bounded
    "d30_leadlag_xcorr": (4, 0),
    # synth -> parse mapInPandas chain, partition-preserving; archive
    # binaries never leave the executor, zero shuffles
    "m14_archive_members": (0, 2),
    # t9's keeper machinery (checkpointed band join) + the doc_id keeper
    # join and ONE source-keyed int-triple rollup
    "p17_effective_tokens": (5, 1),
    # synth/resize/hash mapInPandas chain runs inside hamming_pairs'
    # checkpointed hash frame; the visible plan is the band self-join
    # (band keys pre-clustered) + the doc-keyed degree rollup
    "m15_image_hamming_neardup": (1, 0),
    # LSH pairs checkpointed; degree agg, two degree-attach hash joins
    # (each exchanging both tiny int-pair sides), the symmetrized union's
    # single-row moment agg — all (int64, int64) rows keyed by node id
    "g15_degree_assortativity": (9, 2),
    # two explode->(doc, gram) count passes (map-side combined) + their
    # doc-keyed max rollups + the final doc join
    "t60_repetition_signals": (4, 0),
    # ONE map-combinable (type, dow) count (<= 7 * |types| rows) + the
    # <= 7-row-partition share/peak window
    "d31_weekday_profile": (2, 0),
    # (source, token) count with map-side combine + the per-source
    # top-N rank window + the |sources|-row moment rollup
    "t61_zipf_exponent": (2, 0),
    # (type, day) count, calendar zero-fill join, the per-type running
    # sum and argmax windows — all keyed by the |types|-sized key
    "d32_cusum_changepoint": (4, 0),
    # t6's checkpointed signature self-join plus the hot-bucket count
    # agg (map-combined) — the anti-join side is a small broadcast
    "t62_capped_lsh_pairs": (3, 1),
    # m15's band self-join over the checkpointed hash frame; the hot-key
    # anti-join side is broadcast (size-gated), so the cap adds NO
    # shuffle — the one exchange is the doc-keyed degree rollup
    "m16_capped_hamming_neardup": (3, 0),
}


#: node names of the Python tiers: ArrowEvalPython (scalar pandas_udf —
#: Spark 4 prints the node as ArrowEvalPython and the refs as lowercase
#: "pythonUDF0"), BatchEvalPython (row-at-a-time — should stay zero
#: everywhere), MapInPandas / FlatMapGroupsInPandas /
#: FlatMapCoGroupsInPandas (iterator, grouped and cogrouped tiers)
PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)

_AQE_TREE = re.compile(r"== (?:Final|Current) Plan ==")


def _count_nodes(plan: str) -> tuple[int, int]:
    """(shuffle exchanges, Python nodes) named in one plan's text."""
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    return shuffles, sum(plan.count(n) for n in PY_NODES)


def _executed_trees(description: str) -> list[str]:
    """The plan trees an execution ran, from its status-store description
    (formatted explain: the tree, then per-node details).  An adaptive
    plan contributes only its final tree, never its initial one."""
    if _AQE_TREE.search(description) is None:
        return [description.split("\n\n", 1)[0]]
    return [
        part.split("== Initial Plan ==", 1)[0]
        for part in _AQE_TREE.split(description)[1:]
    ]


def _execution(store, index: int):
    return store.executionsList(index, 1).apply(0)


def plan_counts(spark, name: str) -> tuple[int, int]:
    """(shuffles, Python nodes) of query ``name``: its final plan plus
    every SQL execution that ran a job of this build."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    n = int(store.executionsCount())
    # by id, not by position: the store evicts its oldest executions
    mark = int(_execution(store, n - 1).executionId()) if n else -1
    group = f"plan-budget-{name}"
    sc.setJobGroup(group, group)
    try:
        df = QUERIES[name].fn(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    shuffles, py = _count_nodes(df._jdf.queryExecution().executedPlan().toString())
    i = int(store.executionsCount()) - 1
    while i >= 0:
        ex = _execution(store, i)
        if int(ex.executionId()) <= mark:
            break
        i -= 1
        ids = ex.jobs().keySet().iterator()
        if not any(int(ids.next()) in jobs for _ in range(ex.jobs().size())):
            continue
        for tree in _executed_trees(ex.physicalPlanDescription()):
            s, p = _count_nodes(tree)
            shuffles += s
            py += p
    return shuffles, py


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_plan_within_budget(spark, name):
    shuffles, py = plan_counts(spark, name)
    want_shuffles, want_py = BUDGETS[name]
    assert shuffles <= want_shuffles, (
        f"{name}: {shuffles} shuffle exchanges (budget {want_shuffles}) — "
        "a plan regression added a shuffle"
    )
    assert py <= want_py, (
        f"{name}: {py} Python nodes (budget {want_py}) — JVM work moved "
        "into Python"
    )


def test_every_batch_query_has_a_budget():
    batch = {n for n in QUERIES if n.split("_")[0][0] != "e"}
    assert batch == set(BUDGETS), (
        "new query without a plan budget (or stale entry): "
        f"{sorted(batch ^ set(BUDGETS))}"
    )
