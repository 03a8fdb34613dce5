"""Physical-plan property tests — the scale contract, asserted.

Correctness is covered by the oracle differential tests; these tests
pin the PLAN SHAPES that make the engine viable at 100 TB (SURVEY.md
§4): shuffle budgets per query, broadcast of small dims, filter/
projection pushdown into the parquet scan, and whole-stage codegen on
the hot paths. A regression that keeps values right but, say, turns
the zero-shuffle schedule expansion into a shuffling window again
fails HERE.
"""

from __future__ import annotations

import pytest

from etl_portfolio_project_spark import api
from etl_portfolio_project_spark.plans import explain

from .conftest import SF_SMALL

#: name → max shuffle exchanges allowed in the physical plan.
#: These are the designed budgets, not observations: the loan pipeline
#: and schedule expansion are built to be fully narrow (broadcast
#: joins + closed-form running total), single-agg queries get exactly
#: one exchange, and the full-outer reconciliation gets one per
#: pre-aggregated side.
SHUFFLE_BUDGET = {
    "loan_final": 0,
    # 1 = the conditional `balanced` exchange on the under-split
    # single-file harness scan; the expansion itself is narrow
    "loan_monthly_schedule": 1,
    "src_join_projection": 0,
    "join_left_extension": 0,
    "region_clean": 0,
    # 1 = distinct over the tiny dirty-value set (pre-WRatio-UDF);
    # the loans side broadcast-joins the mapping, no fact shuffle
    "region_clean_wratio": 1,
    "filter_pushdown": 0,
    "text_profile": 1,  # balanced exchange only
    "doc_repetition_profile": 1,  # balanced exchange only (pure narrow)
    # 2 balanced scan spreads (eval + train branch) + eval distinct +
    # per-doc hit count; corpus side never shuffles before the agg
    "decontaminate_ngrams": 4,
    "union_all_schedules": 0,
    "scalar_function_suite": 0,
    "agg_pricing_summary": 1,
    "monthly_revenue": 1,
    "monthly_revenue_growth": 2,  # month agg + tiny post-agg window
    # base-branch agg + merged re-agg (delta partials ride the union)
    "monthly_revenue_incremental": 2,
    # term-filtered explode + doc agg (countDistinct two-phase) + top-k
    "keyword_search_topk": 3,
    # lazy-below-threshold shape: balanced + word-window + tf agg +
    # doc_len join on the postings side, plus the lens re-scan branch
    # (claim_if_large collapses it above 256 MB of source)
    "bm25_search_topk": 7,
    # balanced + word agg shuffle; pair explode + pair agg run on the
    # vocabulary-sized word table + final TakeOrdered
    "bpe_pair_stats": 3,
    # centroid (label,dim) agg + per-label array agg + balanced spread
    # + vec_id winner agg (map-side struct-min combine, k→1 before the
    # shuffle — never an unreduced n·k window) + transition agg
    "kmeans_assignment_step": 6,
    # bm25's 7 + the two ≤k-row rank windows and the ≤2k-row fusion
    # full-outer join + final TakeOrdered (all post-top-k, tiny rows);
    # dense corpus top-k itself is a TakeOrderedAndProject, no global
    # sort or full-corpus window
    "hybrid_rrf_search": 9,
    # balanced + word-window + doc agg, plus the corpus-total re-scan
    # branch (explode + per-doc count) — claimed away above threshold
    "doc_token_commonness": 6,
    "dedup_exact": 1,
    "dedup_exact_prefix": 1,
    "corpus_preparation": 2,  # balanced exchange + fp window
    "cube_order_stats": 1,
    "tpch_q3_shipping_priority": 1,
    "tpch_q5_local_volume": 1,
    "order_gaps_lag_lead": 1,
    "top3_orders_per_customer": 1,
    "sessionize_events": 1,
    "price_quartiles_by_priority": 4,  # r10 grouped ranged rank: range exch + bounded sizes/offsets + final agg
    "yoy_customer_reconciliation": 2,
    "json_props_rollup": 1,
    "events_multi_granularity_rollup": 1,
    "click_purchase_attribution": 2,
    "promo_revenue_share": 1,
    "unpivot_part_metrics": 0,
    "top_words": 1,
    # balanced spread + source-keyed window cumsum
    "sequence_packing_bins": 3,  # r10 grouped ranged cumsum: range exch + sizes agg + offsets
    # balanced spread + bigram agg + w1-keyed window
    "bigram_conditional_topk": 3,
    # 2 for the sketch (register agg + sketch agg) + 2 for the exact
    # distinct-count companion column (harness verification only)
    "hll_distinct_users": 4,
    "gopher_quality_flags": 1,  # balanced spread only (pure narrow map)
    # balanced spread only: synthesis + strip + density rule are one
    # narrow HOF expression per row
    "html_text_extract": 1,
    # same shape: hashing-trick classifier fold rides the scan
    "hashed_ngram_quality_scores": 1,
    # balanced spread + canonical-key count window + per-source
    # distinct-agg rollup (partial/final)
    "url_canonical_dedup": 4,
    # balanced spread + one partial-agg'd shuffle on the dim key
    "embedding_dim_profile": 2,
    # LUT crossJoin is a broadcast of the tiny codebook (intentional
    # BNLJ); 4 code joins broadcast; 1 per-query top-k window
    "ann_pq_adc_topk": 5,
    # lazy-below-threshold shape (doc_token_commonness twin): the
    # totals branch re-runs spread + bucket window + per-doc agg;
    # claim_if_large collapses it above 256 MB of source
    "dsir_importance_weights": 6,
    # balanced + corpus->vocab word agg, then 3 training iterations x
    # (vocab pair agg + 1-row stats exchange); winners are broadcast,
    # vocab generations are claim-cached so no iteration rescans the
    # corpus (+1 headroom)
    "bpe_merge_loop": 12,
    # balanced + word agg + piece-inventory agg + T single-row agg +
    # TakeOrdered top-K + two inventory split joins + best-split agg
    "unigram_lm_piece_prune": 9,
    # two narrow Arrow map stages (encode → decode), balanced spread only
    "multimodal_png_decode": 1,
    # corrupting synth → guarded decode, same two-stage Arrow shape
    "multimodal_malformed_audit": 1,
    # same two-stage Arrow shape; resize is a pure per-image map
    "multimodal_resize": 1,
    # audio twin: synth -> decimate/re-encode/decode, pure per-doc map
    "multimodal_audio_resample": 1,
    # LATERAL Python UDTF is a narrow per-row expansion; balanced only
    "udtf_token_runs": 1,
    # 8 Python-reader partitions -> one partial-agg'd pid rollup
    "python_datasource_scan": 1,
    # narrow parse_json + variant_get projection + one type-key agg
    "variant_schema_on_read": 1,
    # stream runs inside the builder; returned frame = sink read +
    # one epoch rollup
    "stream_python_datasource_ingest": 1,
    # writes run eagerly in the builder (repartition + narrow
    # coalesce); returned frame = compacted read + 1-row audit agg
    "small_file_compaction": 1,
    # two written sides read back, one single-row agg each + union
    "dq_quarantine_split": 2,
    "mongo_extension_scan": 0,
    "embedding_covariance_stats": 2,
    "embedding_matryoshka_recall": 3,
    "ann_ivfpq_topk": 5,
    "kmeans_lloyd_loop": 10,  # r14: argmin-in-expression loop (obs 9 +1)
    "entity_resolution_parts": 3,
    # all work happens inside the builder's foreachBatch stream; the
    # returned frame is a plain read of the appended result parquet
    "stream_incremental_dedup": 0,
    # exact-dup collapse groupBy (r11) + band-key self-join +
    # candidate distinct + cross-pair rollup (sum + countDistinct
    # two-phase) + per-source spine agg; the spine join back broadcasts
    "cross_source_dup_audit": 6,
    # same banding machinery keyed by split: collapse groupBy (r11) +
    # band self-join + candidate distinct + weighted leak rollup +
    # distinct-late-rep exposure (distinct + agg over the claimed tiny
    # leak set) + per-split count agg; spine joins broadcast
    "split_leakage_audit": 7,
    # one single-row agg exchange per read-back format (4 formats);
    # the writes execute eagerly inside the builder
    "format_roundtrip_audit": 4,
    # composition of two pinned-shape ANN queries (boundary-pruned
    # brute-force (7) + LSH bucket join/distinct/window) + 2 tiny
    # per-query aggs + a 200-row audit join; every exchange moves the
    # sampled query set
    "ann_lsh_recall_audit": 15,  # r14: q-side off the spread (obs 14 +1)
    # cold = IVF index build (balanced + centroid 1-row stat) + the
    # candidate equi-join and per-query top-k window; warm sessions
    # reuse the shared index
    "ann_maxsim_rescored_topk": 2,
    # cold = exact boundary-pruned maxsim pipeline + the IVF-routed
    # rescorer + two partial-agg'd groupBys and the audit join
    "maxsim_rescore_recall_audit": 15,
    "corpus_mixture_sample": 0,
    "events_gapfill_5min": 2,
    "events_moving_average": 2,
    "events_range_frame_1h": 2,  # bucket agg + event_type window
    "arrow_group_median": 1,  # one shuffle into the Arrow workers
    "udaf_cents_total": 1,  # pandas UDAF: raw rows shuffle once (no partial agg)
    "customer_value_tiles": 3,
    "props_map_explode": 1,
    "salted_customer_orders": 2,  # broadcast at harness size; ≤2 if SMJ
    # 1 = the bucket-set collect agg; fact side stays narrow
    "bloom_pruned_customer_orders": 1,
    # join rides pre-bucketed files (zero exchanges); 1 = final agg
    "bucketed_customer_orders_join": 1,
    # broadcast dim membership + ONE global aggregate
    "data_quality_audit": 1,
    "region_null_audit": 1,
    "small_quantity_order_revenue": 2,  # agg + co-partitioned join-back
    # 3 stage aggs + 2 stage joins, all hash-partitioned on user_id —
    # AQE broadcasts the small per-stage aggregates at harness size
    "funnel_conversion": 5,
    # claimed pair pre-agg (its defining balanced+agg exchanges print
    # under the InMemoryRelation but executed ONCE at claim time) +
    # spine distinct + fan re-agg countDistinct two-phase
    "rolling_distinct_users_24h": 5,
    "zorder_events_tiles": 1,  # narrow bit-interleave + one group agg
    "events_value_outliers": 1,  # moment agg; stats broadcast back
    # value-rank window + deviation-rank window + final agg share the
    # event_type partitioning; med/mad broadcast back
    "events_mad_outliers": 10,  # r10: 2x grouped ranged rank (range exch + bounded sizes/offsets each)
    "label_centroid_components": 1,  # one (label, dim)-keyed agg
    # pure narrow broadcast-model scoring; 1 = balanced scan spread only
    "embedding_linear_scores": 1,
    # leaf CASE fused in the scan stage; 1 = 8-key leaf aggregate
    "tree_inference_leaf_stats": 1,
    # one custkey exchange; both windows + run groupBy reuse it
    "scd2_order_status_history": 1,
    "tpch_q2_min_price_supplier": 2,  # partkey agg + join-back (co-part.)
    "tpch_q4_priority_check": 1,
    "tpch_q6_forecast_revenue": 1,
    "tpch_q7_volume_shipping": 1,
    "tpch_q8_market_share": 1,
    "tpch_q9_product_profit": 1,
    "tpch_q10_returned_items": 1,
    # 3 static (scalar-subquery branch recomputes the shared agg in the
    # initial plan) but AQE's ReusedExchange collapses it at runtime —
    # verified: executedPlan contains ReusedExchange
    "tpch_q11_important_parts": 3,
    "tpch_q12_late_line_priority": 1,
    "tpch_q13_customer_distribution": 2,  # custkey agg + count-of-counts
    "tpch_q15_top_supplier": 3,  # same AQE ReusedExchange note as q11
    "tpch_q16_part_supplier_variety": 2,  # distinct-agg two-phase
    "tpch_q18_large_orders": 1,
    "tpch_q19_disjunctive_revenue": 1,
    "tpch_q20_excess_shippers": 1,  # compound-key agg; semi join broadcast
    "tpch_q21_last_shipper": 2,  # semi + anti self-joins on orderkey
    "doc_chunking": 1,  # balanced exchange only (narrow explode)
    # balanced spread + (doc,word) tf agg + word df agg + scalar-N agg;
    # df + N broadcast back, one doc_id window
    "tfidf_top_terms": 5,
    "source_capped_docs": 3,  # r10: bottom-k bucket agg + boundary + survivor window
    # balanced + (doc,gram) agg + gram-df window + per-doc agg (the
    # tfidf no-rescan shape at the n-gram level)
    "boilerplate_ngram_fraction": 4,
    # 2 balanced branches (base + planted copies) + one source agg
    "mojibake_encoding_audit": 3,
    # balanced + (source,word) agg + source agg
    "source_lexical_stats": 3,
    # query-subset broadcast vs narrow corpus scan + 1 top-k window
    # (ann_brute_force_topk twin; 7 = 4 balanced branches (full +
    # boundary-sample scored relations × cand/query) + bucket-max agg
    # + boundary agg + survivor window — the r8 boundary-pruned shape)
    "multivector_maxsim_topk": 6,  # r14: q-side off the spread (obs 5 +1)
    "ann_brute_force_topk": 6,  # same boundary-pruned shape; r14 q-side (obs 5 +1)
    # balanced + vocab word agg + 3 training pair aggs + the corpus
    # explode joins the BROADCAST encoded vocab + final per-doc agg
    # (+1 headroom, the bpe_merge_loop convention)
    "bpe_apply_encode": 8,
    # (user, week) distinct + user window + tiny cell agg
    "cohort_retention": 3,
    "events_value_histogram": 1,  # ≤20-key map-side-combining agg
    # (type,bin) sketch agg + type window/final agg share one exchange
    "events_approx_quantiles": 2,
    # post-checkpoint plan: pid-window rekey + sizes agg + tiny offsets
    # window (the custkey agg + range exchange run once INSIDE the
    # eager localCheckpoint, before this plan); offsets broadcast back
    "global_revenue_rank": 3,
    # volume agg + broadcast-scalar max + source window; quotas broadcast
    "corpus_temperature_mixture": 6,  # r10: + bottom-k bucket agg/boundary (survivor window)
    # narrow fraction expr + one source-keyed window (+ balanced spread)
    "source_quality_percentile_filter": 3,  # r10 grouped ranged rank
    "cms_heavy_hitters": 2,  # sketch-build agg + per-user exact agg
    # broadcast self-join at harness size (1 = pair groupBy); ≤3 if
    # the fingerprint join falls back to SMJ at scale
    "winnow_neardup": 3,
    # prefix filtering: df agg + df join-back on word + per-doc window
    # + candidate distinct; verify joins broadcast at harness size,
    # +2 budget headroom if they fall back to SMJ at scale
    "neardup_jaccard": 6,
    # shingle-key self-join (broadcast at harness size) + pair groupBy
    # + size joins; +2 headroom if SMJ at scale; top-k is TakeOrdered
    "ngram_jaccard_neardup": 4,
    # balanced spread + (tbl,bucket) self-join + candidate distinct +
    # two vector join-backs (broadcast at harness size; headroom for SMJ)
    "embedding_lsh_neardup_pairs": 6,
    # pairs+CC run eagerly inside the builder (claimed + driver
    # union-find at harness scale); the returned plan is a local
    # relation + one per-cluster groupBy exchange
    "semantic_dedup_clusters": 1,
    "tpch_q22_inactive_rich_customers": 2,  # anti join + nation agg
    # r5 additions -----------------------------------------------------
    # per-part avg agg + final single-row agg; part dim broadcast twice
    "tpch_q17_small_quantity_revenue": 2,
    "c4_quality_flags": 1,  # balanced spread only (pure narrow map)
    "token_fertility_by_lang": 2,  # balanced spread + 5-key lang agg
    "lang_id_accuracy_audit": 2,  # balanced spread + confusion agg
    # 2 balanced spreads (gopher + c4 branches) + source agg; the
    # doc_id joins broadcast at harness size (+1 headroom for SMJ)
    "corpus_quality_funnel": 4,
    # band self-join agg + tau groupBy over the rep-pair∪self-weight
    # union; collapse groupBy hides behind the sig checkpoint (r11)
    "minhash_tau_sweep": 3,
    # one gram-hash groupBy (occurrence lists, hot-cap filtered) +
    # diagonal window/island agg (+1 headroom). r14: +1 — the shared
    # gram projection's balanced() spread (see exact_substring_rewrite
    # note; same claimed relation, A/B-confirmed win)
    "exact_substring_spans": 4,
    "embedding_pq_codes": 1,  # narrow codebook map; balanced spread
    # balanced spread + (query,same)-keyed window + final query agg;
    # anchor join broadcasts
    "contrastive_hard_negatives": 4,
    "source_lang_diversity": 2,  # (source,lang) agg + source re-agg
    # merged-scan year agg (countDistinct two-phase); writes execute
    # eagerly inside the builder
    "schema_evolution_read": 2,
    # checkpointed narrow norm table + global rank exchange + count
    # agg; outlier filter rides the checkpoint
    "embedding_norm_outliers": 3,
    # neardup_clusters is intentionally absent: the iterative
    # fixpoint loop's plan depth is data-dependent (graph diameter)
    # zero-shuffle hash assignment; balanced spread + the 3-key agg's
    # countDistinct(source) two-phase (distinct expand + final merge)
    "train_val_test_split": 3,
    "pii_scrub_profile": 1,  # fully narrow; balanced spread only
    # fp self-join (broadcast at harness size) + pair groupBy + sizes
    # agg + join-back; +2 headroom if the fp join is SMJ at scale
    "doc_containment_pairs": 5,
    "embedding_int8_quant_profile": 1,  # narrow folds; balanced spread
    # bin equi-join (broadcastable interval side) + promo_id agg
    "interval_bin_join_revenue": 1,
    "cdc_chunking": 1,  # narrow HOF explode; balanced spread only
    # balanced spread + gram agg (countDistinct two-phase); top-k is
    # TakeOrdered, no extra exchange
    "repeated_ngram_spans": 3,
    # 2 balanced spreads (vocab branch + marked branch) + vocab agg +
    # single doc-keyed agg; in-vocab marker join broadcast
    "vocab_oov_rate": 4,
    # 3 branch spreads (v1 + v2-kept + v2-added derive separately) +
    # full-outer join exchanges on doc_id + 4-key status agg
    "corpus_version_diff": 6,
    "partitioned_write_prune": 1,  # pruned scan + 12-key month agg
    # claimed edge cache scan ×3 + wedge/closing joins (broadcast at
    # harness size) — the jaccard pipeline runs ONCE inside the claim
    "neardup_triangles": 9,  # r10 +1: the claimed edge list is no longer pre-materialized at build time (count audit), so the cold render counts its subtree exchange once more; execution populates the cache once either way
    # harness size takes the counted-threshold driver finish: the
    # returned plan is a LogicalRDD (the claimed pairs cache + the 5
    # fixed-point rounds run inside the builder); the distributed
    # unrolled chain (forced in test_cache_hygiene) is ~20 exchanges
    "neardup_pagerank": 1,
    # per-key agg ×2 branches + scalar TakeOrdered; hottest-key join
    # is a broadcast 1-row scalar
    "skew_detection_profile": 3,
    # target + change-feed branches shuffle into the co-partitioned
    # full-outer + status agg
    "merge_upsert_orders": 3,
    # corpus-side exact-dup collapse groupBy (r11) + band-collision
    # join agg + candidate verify agg + batch left join over the two
    # claimed signature caches (batch raw, corpus collapsed reps)
    "incremental_minhash_dedup": 4,
    # chunk-window spread + chunk-max agg + recursive _prefix_max_carry
    # (r11: per-level sibling windows partitioned by pkey, claimed
    # per-level tables, apex broadcast self-join — broadcasts add no
    # exchange) + (type,bucket) agg + post-agg share window. NOTE: the
    # budget is validated at harness SFs where the recursion is
    # shallow (≤1 sibling level); each extra level at larger chunk
    # counts adds its pkey-window + groupBy exchanges, so a deeper
    # corpus legitimately exceeds this figure — the pin is the
    # harness-SF plan shape, not a depth-independent ceiling
    "events_lateness_audit": 5,
    # claimed+materialized labels and clustered caches (their build
    # plans print under every scan site in explain but executed once
    # at the builder's count()s) + qmax agg + argmax agg + anti-join
    # (broadcast); +2 headroom if the broadcasts fall back to SMJ
    "dedup_keep_best": 11,  # + the r11 rep-level labels subtree (see
    # neardup_clusters) printing under the labels broadcast sites
    # --- r8 backfill (VERDICT r7 item 2): the r1–r3 queries that
    # predate the budget rule, pinned at their observed COLD plans ---
    "ann_ivf_topk": 2,  # routing-table agg + probe-side candidate agg
    # balanced spread + bucket-join agg + candidate re-rank window +
    # per-table code projections (2 tables)
    "ann_lsh_topk": 5,
    "asof_latest_signup": 1,  # per-customer latest-event agg only
    "churned_customers_1995": 1,  # year-bucket agg; anti side broadcast
    "customers_with_urgent_orders": 0,  # semi-join broadcast, narrow
    "customers_without_orders": 0,  # anti-join broadcast, narrow
    "distinct_segments": 1,  # single distinct two-phase agg
    "embedding_neardup_pairs": 2,  # balanced spread + label-block pairs
    "events_tumbling_5min": 2,  # balanced events spread + window agg
    "minhash_lsh_neardup": 1,  # band bucket-join agg; sigs broadcast
    "multimodal_bmp_decode": 1,  # balanced spread; decode is narrow
    "multimodal_features": 0,  # pure narrow metadata derivation
    "multimodal_frame_sample": 0,  # narrow HOF frame slicing
    "multimodal_wav_decode": 1,  # balanced spread; decode is narrow
    # r11 rep-level CC: collapse agg + PPJoin candidate machinery
    # behind the claimed reps/pairs caches (build plans print under
    # every scan site in explain, executed once) + iso anti-join +
    # sizes agg; the labeled-rep member expansion and sizes joins
    # BROADCAST (the dedup_keep_best cluster-map precedent)
    "neardup_clusters": 7,
    "pivot_status_by_priority": 2,  # pivot two-phase agg
    "repeat_customers_1995_1996": 1,  # (cust, year) agg; self-join broadcast
    "rollup_revenue_by_geo": 1,  # rollup grouping-sets single agg
    "simhash_pairs": 0,  # banded self-join both sides broadcast at SF_SMALL
    "topk_orders": 0,  # TakeOrderedAndProject — no exchange at all
    "connectivity_probe": 0,  # scalar 1-row probe, no exchange
    # balanced spread + bigram window + w1 window + per-doc agg + V agg
    # branch + doc-score rank + spine join (both sides doc-keyed)
    "ccnet_perplexity_filter": 3,
    # claimed hash-table build (balanced spread inside) + band self-
    # join candidate distinct; hash joins broadcast at harness size
    "image_phash_neardup": 3,
    # same banding shape as image_phash: band equi-join + candidate
    # distinct over the claimed fingerprint cache; Arrow stages narrow
    "audio_fingerprint_neardup": 3,
    "multimodal_jpeg_decode": 1,  # balanced spread; codec is narrow
    # balanced spread + source agg + unpartitioned totals window
    "temperature_sampling_weights": 3,
    # 2 layout branches x (global rank window + bucket agg); the
    # normalization max-window rides the rank exchange
    "zorder_layout_audit": 10,
    # two boundary-pruned legs (forward |Q|·n, backward |C|·n) + the
    # claimed fwd/cand_q caches whose build plans print under every
    # scan site in explain (executed once at the builder's count()s)
    "bitext_margin_mining": 15,  # r14: q-side off the spread (obs 14 +1)
    # the boundary-pruned ranking leg (7, valid-vec-gated) + per-query
    # metric agg + the label-side keyed attachment (the ranked |Q|·k
    # rows broadcast; the corpus label projections never do)
    "retrieval_quality_eval": 9,
    # 4 tables x 3 scalar-count branches (before/kept/residual) —
    # every exchange is a single-row partial-agg'd count; the deleted
    # key sets broadcast
    "right_to_erasure_audit": 12,
    # r9 curation family — each is balanced spread + ONE partial-agg'd
    # keyed shuffle (map-side combine to |groups| rows), except where
    # noted
    "k_anonymity_audit": 2,
    "preference_pair_mining": 2,
    # broadcast 6-row grid cross join rides the scan; single 6-row agg
    "filter_threshold_sweep": 2,
    "dataset_release_manifest": 2,
    # balanced + domain-keyed window; the rollup groups on the SAME
    # key and reuses the window's hash partitioning (no 3rd exchange)
    "domain_quota_sample": 5,  # r10: bottom-k bucket agg (fused n_docs) + boundary + survivor window + rollup
    "corpus_release_pipeline": 19,  # r10 composed DAG: gate joins + dedup cluster machinery (r11 rep-level labels subtree) + pruned quota window + manifest rollup
    # r12 (persisted v1 manifest): the diff plan reads the parquet
    # artifact — changed-branch doc_id join + the doc_id full-outer
    # diff + the partition rollup; the v1 pipeline build is a one-time
    # side effect (persisted_v1_release), not part of the diff plan
    "incremental_release_diff": 5,
    # r12: word-vocab agg + composed prune subtree (its claimed
    # inventory/top prints under the kept filter) + single-char
    # alphabet agg + broadcast vocab-map carriage + M-step piece agg
    # + final vocab⋈em join over the claimed vocab
    "unigram_lm_em_step": 9,
    # r12: balanced spreads (non-null + NULL-passthrough branches) +
    # hash-keyed DF rollup (countDistinct = partial+final pair) +
    # broadcast hot probe (no exchange) + per-doc re-concat agg
    "line_dedup_rewrite": 6,
    # r13: spans subtree (gram rollup + island window, 3) + id2-keyed
    # interval agg + the doc_id left join's balanced doc spread; the
    # rewrite HOF itself is narrow. r14: +1 — the shared gram
    # projection's balanced() spread (dedup.py exact_substring_grams
    # claim) is an INTENDED slim-row exchange that moves the per-token
    # md5 hashing off the 1-3 single-file scan tasks; A/B at sf0.1:
    # 2.33 s with vs 3.51 s without (best-of-3 noop sink).
    "exact_substring_rewrite": 5,
    # r13: persisted-manifest parquet scan + line_dedup_rewrite
    # subtree (6) + the doc_id inner join's exchange pair offset by
    # the manifest side riding its scan partitioning — observed 7
    "corpus_release_pipeline_v2": 7,
    # pure narrow generated-HOF map: balanced spread only
    "span_corruption_masks": 1,
    # r9b: boundary-pruned top-k twin of ann_brute_force_topk (7),
    # all-integer scoring
    "ann_binary_hamming_topk": 6,  # r14: q-side off the spread (obs 5 +1)
    # composition: boundary-pruned brute force (7) + hamming top-k (7)
    # + 2 tiny per-query aggs + the ≤|Q|-row audit joins (the
    # lsh-audit shape; both legs pay their own balanced spreads cold)
    "binary_quant_recall_audit": 15,  # r14: q-side off the spread (obs 14 +1)
    # balanced + distinct (type, hash) + type-partitioned rank window
    # + exact-distinct two-phase agg; kth side broadcast into the join
    "kmv_distinct_users": 9,  # r10: bottom-k prune + pruned distinct + rank window + exact distinct
    "kmv_sketch_merge": 20,  # r10: two pruned selections (shard + direct), bounded merge re-rank — all post-prune relations ~k rows/group
    # 3 epochs x ranged_row_number (range exchange + sizes agg +
    # bounded offsets window, the global_revenue_rank shape) + the
    # final per-epoch agg
    "epoch_shuffle_audit": 10,
    # two-phase: at harness SFs the builder driver-finishes the
    # claimed edge list (LocalTableScan, 0 exchanges). The
    # >200k-edge distributed branch's plan contract (same 21-exchange
    # budget + the unpartitioned-window ban) is asserted directly on
    # _kcore_distributed in tests/test_binary_kmv.py::
    # test_kcore_driver_and_distributed_branches_agree
    "kcore_dedup_graph": 21,
}


def test_every_batch_query_has_a_shuffle_budget():
    """Every non-streaming registry entry must carry a budget row
    (VERDICT r7 item 2) — a new query without one means its plan can
    regress invisibly. Streaming queries whose RETURNED frame is a
    batch read may pin that read's plan here too, but their state
    contracts live in test_stream_plans.py."""
    batch = {n for n in api.REGISTRY if not n.startswith("stream_")}
    missing = sorted(batch - set(SHUFFLE_BUDGET))
    assert not missing, f"batch queries without a shuffle budget: {missing}"


# Queries allowed to keep an unpartitioned WindowExec because its
# INPUT is bounded by construction (never corpus-proportional):
UNPARTITIONED_WINDOW_OK = {
    # lag over per-month aggregates — calendar-bounded (~84 rows)
    "monthly_revenue_growth",
    # collect_list/sum over per-source aggregates (|sources| rows)
    "temperature_sampling_weights",
    # both rank windows sort top-SEARCH_TOP_K pruned lists (≤K rows)
    "hybrid_rrf_search",
    # events_lateness_audit left this set in r11: its carry is now the
    # recursive chunk→superchunk scan (_prefix_max_carry — partitioned
    # sibling windows + a ≤1024-row apex triangular join)
}


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGET))
def test_shuffle_budget(spark, name):
    from etl_portfolio_project_spark import caches

    # the budget pins the COLD analytical plan: a session-warm shared
    # index (r7 tier — survives release_all by design) substitutes an
    # InMemoryTableScan whose probe adds an exchange the cold plan
    # doesn't have (order-dependent +1 on ann_ivfpq after the hygiene
    # test warms the LSH/IVF indexes)
    caches.release_shared_all()
    df = api.REGISTRY[name].builder(spark, SF_SMALL)
    plan = explain.physical_plan(df)
    n = explain.count_shuffles_in(plan)
    budget = SHUFFLE_BUDGET[name]
    # same isolation as bench/verify: builders that claim+materialize
    # must not leave live cached plan trees behind — the CacheManager
    # substitutes them into LATER queries' plans (observed: a claimed
    # token explode reshaping keyword_search_topk's exchanges)
    caches.release_all()
    assert n <= budget, (
        f"{name}: {n} shuffle exchanges, budget {budget}\n" + plan
    )
    # repo-wide single-reducer-window ban (VERDICT r8 item 1),
    # piggybacked on the same plan render: an unpartitioned WindowExec
    # funnels its whole input through ONE task. The only allowed
    # shapes are (a) ranking.ranged_row_number's offsets window
    # (orders by _rrn_pid, input ≤ RANK_RANGES rows) and (b) the
    # UNPARTITIONED_WINDOW_OK queries whose window input is bounded by
    # construction (see the whitelist's per-entry reasons).
    if name not in UNPARTITIONED_WINDOW_OK:
        bad = [
            w
            for w in explain.unpartitioned_windows(plan)
            if "_rrn_pid" not in w
        ]
        assert not bad, (
            f"{name}: unpartitioned corpus-window(s) — single-reducer "
            f"sort shape:\n" + "\n".join(bad) + "\n" + plan
        )
    # repo-wide LOW-CARDINALITY-partition window ban (VERDICT r9
    # item 1 — the sequel class): a window partitioned ONLY by a
    # ~5–20-value key (source / event_type / domain / lang) holds a
    # corpus-proportional slice per task unless its input is bounded.
    # Allowed escapes, checked structurally: (a) the grouped-offsets
    # window (orders by _rrn_pid, input ≤ ranges+|groups| rows), (b) a
    # `_gbk_bnd` boundary-survivor filter in the window's subtree
    # (input ~k·(1+k/B) rows per group), (c) the LOWCARD_WINDOW_OK
    # queries whose window input is an aggregate bounded by
    # construction (per-entry reasons on the whitelist).
    if name not in LOWCARD_WINDOW_OK:
        import re as _re

        for wid, sub in explain.window_nodes(plan):
            cols = explain.window_partition_columns(plan, wid)
            if not cols or not set(cols) <= LOW_CARD_KEYS:
                continue
            det = explain.node_detail(plan, wid)
            am = _re.search(r"^Arguments: (.*)$", det, _re.M)
            args = am.group(1) if am else ""
            if "_rrn_pid" in args:
                continue
            pruned = any(
                "_gbk_bnd" in explain.node_detail(plan, nid) for nid in sub
            )
            assert pruned, (
                f"{name}: window partitioned only by low-cardinality "
                f"key(s) {cols} with no boundary-survivor prune in its "
                f"subtree — corpus-proportional single-task-per-group "
                f"sort:\n{args}\n{plan}"
            )
    # repo-wide HOT-DATA-KEY window ban (r10, class 2): a window
    # partitioned by a skewed data key (word / gram / bigram / url /
    # content fingerprint) buffers its hottest key's whole
    # corpus-proportional partition in ONE task (a stopword's posting
    # list, a viral URL's dup group, an exact-dup cluster) — the
    # unbounded-frame aggregate/argmin shapes all rewrite as
    # map-side-combining aggregate + join (AQE absorbs join skew) or
    # struct-min. HOTKEY_WINDOW_OK lists the bounded-input exceptions
    # with reasons.
    if name not in HOTKEY_WINDOW_OK:
        for wid, _sub in explain.window_nodes(plan):
            cols = explain.window_partition_columns(plan, wid)
            if not cols:
                continue
            hot = set(cols) & HOT_DATA_KEYS
            assert not hot, (
                f"{name}: window partitioned by skewed data key(s) "
                f"{sorted(hot)} — hottest key's partition is "
                f"corpus-proportional in one task; rewrite as "
                f"aggregate + join / struct-min:\n{plan}"
            )


#: the ~5–25-value group keys whose partitions are corpus-proportional
LOW_CARD_KEYS = {
    "source", "event_type", "domain", "lang",
    # TPC-H low-card enums (the price_quartiles class, caught r10)
    "o_orderpriority", "o_orderstatus", "l_returnflag", "l_linestatus",
    "c_mktsegment", "split",
}

#: skewed data keys whose hottest value's window partition grows with
#: the corpus (stopword postings, hot n-grams, viral URLs, exact-dup
#: fingerprint groups) — banned as window partition keys (class 2)
HOT_DATA_KEYS = {"word", "gram", "bigram", "w1", "fp", "canonical_url"}

# Queries allowed a hot-data-key-partitioned WindowExec because its
# input is bounded by construction:
HOTKEY_WINDOW_OK = {
    # the w1 window rides the per-DISTINCT-bigram counts table: a w1
    # group is the distinct continuations of one word — VOCABULARY-
    # bounded, not corpus-bounded
    "bigram_conditional_topk",
}

# Queries allowed a low-card-partitioned WindowExec because its INPUT
# is an aggregate bounded by construction (never corpus-proportional):
LOWCARD_WINDOW_OK = {
    # both windows ride the per-(type, bin) histogram aggregate —
    # ≤ QUANT_BINS rows per type at any corpus size
    "events_approx_quantiles",
    # running sum over the per-(type, lateness-tier) aggregate (≤4
    # tiers) — the corpus-sized prefix scan is the chunked helper
    "events_lateness_audit",
    # sliding sum over the per-(type, time-bucket) aggregate — rows ∝
    # time span, not corpus size
    "events_moving_average",
    # range frame over the same per-(type, time-bucket) aggregate
    "events_range_frame_1h",
}


def test_partitioned_read_prunes_partitions(spark):
    """The year filter must bind to the hive partition directories —
    a PartitionFilters entry in the scan, not a post-scan Filter over
    all years."""
    df = api.REGISTRY["partitioned_write_prune"].builder(spark, SF_SMALL)
    plan = explain.physical_plan(df)
    assert "PartitionFilters" in plan and "o_year" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], plan


def test_interval_join_is_never_nested_loop(spark):
    """The bin-bucketed range join must plan as an equi-join: a
    BroadcastNestedLoopJoin or CartesianProduct here is the O(n·m)
    cliff the binning exists to prevent."""
    df = api.REGISTRY["interval_bin_join_revenue"].builder(spark, SF_SMALL)
    plan = explain.physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "loan_final",  # customers/extensions dims broadcast into the loan scan
        "src_join_projection",
        "tpch_q3_shipping_priority",  # filtered customer dim broadcast
        "tpch_q5_local_volume",  # all four dims broadcast
        "ann_brute_force_topk",  # query subset broadcast, big side narrow
        "multivector_maxsim_topk",  # same shape, M² sub-cosine scoring
        "tpch_q8_market_share",  # 7-way star: every dim broadcast
        "tpch_q19_disjunctive_revenue",  # part dim broadcast
    ],
)
def test_small_side_broadcasts(spark, name):
    df = api.REGISTRY[name].builder(spark, SF_SMALL)
    explain.assert_broadcast_join(df)


@pytest.mark.parametrize(
    "name, score",
    [("ann_brute_force_topk", "cosine"), ("multivector_maxsim_topk", "maxsim"),
     ("ann_binary_hamming_topk", "hamming_sim")],
)
def test_rescorer_topk_window_is_boundary_pruned(spark, name, score):
    """The exact rescorers must never window-sort the corpus-sized
    scored relation (VERDICT r7 item 1): every Window in the plan must
    sit ABOVE the boundary filter (`score >= boundary` survivor prune
    from `boundary_pruned_topk`), so the sort input is the
    constant-per-query survivor set, not |Q|·n rows."""
    df = api.REGISTRY[name].builder(spark, SF_SMALL)
    plan = explain.physical_plan(df)
    subtrees = explain.window_subtree_node_ids(plan)
    assert subtrees, f"no Window found — top-k shape changed?\n{plan}"
    for sub in subtrees:
        pruned = any(
            "Filter" in explain.node_detail(plan, nid).splitlines()[0]
            and "boundary" in explain.node_detail(plan, nid)
            for nid in sub
        )
        assert pruned, (
            f"{name}: a Window's subtree has no boundary survivor "
            f"filter — it sorts the full scored relation:\n{plan}"
        )


@pytest.mark.parametrize(
    "name",
    [
        "global_revenue_rank",
        "customer_value_tiles",
        "ccnet_perplexity_filter",
        "embedding_norm_outliers",
        "zorder_layout_audit",
    ],
)
def test_global_rank_is_distributed(spark, name):
    """The former single-reducer global-rank queries (VERDICT r8
    item 1) must rank via ranking.ranged_row_number: every
    unpartitioned Window in the plan is the helper's ≤RANK_RANGES-row
    offsets window (orders by _rrn_pid), never the corpus-sized
    relation."""
    df = api.REGISTRY[name].builder(spark, SF_SMALL)
    plan = explain.physical_plan(df)
    ws = explain.unpartitioned_windows(plan)
    assert ws, f"{name}: no offsets window — rank shape changed?\n{plan}"
    for w in ws:
        assert "_rrn_pid" in w, (
            f"{name}: unpartitioned corpus-window:\n{w}\n{plan}"
        )


@pytest.mark.parametrize(
    "name",
    [
        "label_centroid_components",
        "kmeans_assignment_step",
        "kmeans_lloyd_loop",
    ],
)
def test_centroid_aggs_are_order_free(spark, name):
    """The centroid/inertia builders must never collect_list a
    corpus-proportional group (VERDICT r9 item 3 — the O(group)
    array was the executor-memory ceiling): component accumulation is
    the CENTROID_Q quantized BIGINT sum. The only collected arrays
    allowed are the ≤DIM-entry centroid-vector assemblies — i.e. no
    collect over a vec_id-carrying struct anywhere in the plan."""
    import re

    from etl_portfolio_project_spark import caches

    try:
        df = api.REGISTRY[name].builder(spark, SF_SMALL)
        plan = explain.physical_plan(df)
    finally:
        caches.release_all()
    assert not re.search(r"collect_list\(struct\(vec_id", plan), (
        f"{name}: collect_list over a corpus-proportional "
        f"vec_id-carrying group:\n{plan}"
    )


def test_exact_substring_collect_is_count_gated(spark):
    """The gram-occurrence collect must sit above the count-first
    hot-gram guard (r10): without it, a boilerplate stop-gram
    materializes a corpus-proportional array in one agg buffer before
    the size filter drops it — the same O(group) ceiling class as the
    r9 centroid folds. The `_es_n` count filter in the plan IS the
    guard."""
    from etl_portfolio_project_spark import caches

    try:
        df = api.REGISTRY["exact_substring_spans"].builder(spark, SF_SMALL)
        plan = explain.physical_plan(df)
    finally:
        caches.release_all()
    assert "_es_n" in plan, (
        f"count-first hot-gram guard missing — collect_list state is "
        f"unbounded per group:\n{plan}"
    )


def test_tpch_q3_filters_reach_scans(spark):
    df = api.REGISTRY["tpch_q3_shipping_priority"].builder(spark, SF_SMALL)
    plan = explain.physical_plan(df)
    for col in ("c_mktsegment", "o_orderdate", "l_shipdate"):
        assert any(
            "PushedFilters" in line and col in line
            for line in plan.splitlines()
        ), f"filter on {col} not pushed to its scan:\n{plan}"


def test_tpch_q6_filters_reach_scan(spark):
    # Q6 is the canonical pushdown query: all three predicates must
    # reach the lineitem parquet scan — as RANGE filters, not just the
    # IsNotNull residue (the r7 float32-safe decimal predicate is not
    # sargable; the widened raw-range guard exists to keep these
    # pushed, and this test pins that)
    df = api.REGISTRY["tpch_q6_forecast_revenue"].builder(spark, SF_SMALL)
    plan = explain.physical_plan(df)
    pushed = "\n".join(
        line for line in plan.splitlines() if "PushedFilters" in line
    )
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"no pushed filter on {col}:\n{plan}"
    assert (
        f"GreaterThanOrEqual(l_discount" in pushed
        or f"gteq(l_discount" in pushed
    ), f"l_discount RANGE not pushed (IsNotNull alone):\n{pushed}"


def test_projection_pruned_to_read_schema(spark):
    # monthly_revenue touches 2 of orders' 9 columns — the scan must
    # read only those two
    df = api.REGISTRY["monthly_revenue"].builder(spark, SF_SMALL)
    explain.assert_read_schema_only(df, "orders", 2)


def test_hot_paths_stay_in_codegen(spark):
    # the flagship metric block must compile to whole-stage codegen
    # (no interpreted projection, no Python workers in the plan).
    # AQE defers codegen annotation until execution, so inspect the
    # non-adaptive plan for this assertion.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = api.REGISTRY["loan_final"].builder(spark, SF_SMALL)
        plan = explain.physical_plan(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "codegen id" in plan, f"no whole-stage codegen spans:\n{plan}"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
        f"Python workers on the hot path:\n{plan}"
    )


def test_schedule_per_loan_terms_below_explode(spark):
    """The schedule's per-loan terms (duration, EMI, last elapsed month)
    are computed below the Generate, so the explode passes none of the
    raw loan columns they are derived from to each generated month."""
    import re

    from pyspark.sql import functions as F

    from etl_portfolio_project_spark.operators.schedule import monthly_schedule
    from etl_portfolio_project_spark.sources import views

    loans = views.loans(spark, SF_SMALL).withColumn(
        "emi_collected", F.lit(None).cast("double")
    )
    plan = explain.physical_plan(monthly_schedule(loans, views.AS_OF))
    ids = re.findall(r"^\((\d+)\) Generate\b", plan, re.M)
    assert len(ids) == 1, plan
    inputs = re.search(
        r"^Input \[\d+\]: \[(.*)\]$", explain.node_detail(plan, int(ids[0])), re.M
    ).group(1)
    names = set(re.findall(r"(\w+)#", inputs))
    raw = {"due_date", "interest_rate", "disbursement_amount"}
    assert not names & raw, f"Generate input {sorted(names)}:\n{plan}"


def test_runtime_bloom_filter_injects(spark):
    """Spark's native runtime-filter path: with the size thresholds
    met, the optimizer injects bloom_filter_agg on the creation side
    and might_contain on the fact scan of a shuffle join — the
    automatic form of operators/skew.bloom_prefilter_join. Thresholds
    are forced low because harness tables are tiny; at 100 TB the
    defaults (10 GB application side) trigger on their own."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_SMALL}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_orderpriority"
        )
        plan = j._jdf.queryExecution().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_is_shuffle_and_sort_free(spark):
    """The bucketed-table join must plan a SortMergeJoin with NO
    exchange and NO sort on either side — the co-located-join contract
    bucketing exists for. Broadcast is disabled so the tiny harness
    tables can't cheat the demonstration (at 100 TB both sides exceed
    any broadcast threshold and this IS the natural plan).

    Sort elision needs `legacy.bucketedTableScan.outputOrdering`:
    Spark ≥3.0 stopped advertising bucket sort order because
    MULTI-file buckets aren't globally sorted — the builder writes
    exactly one file per bucket (repartition on the bucket key before
    write), which is the precondition that makes the conf sound."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = api.REGISTRY["bucketed_customer_orders_join"].builder(
            spark, SF_SMALL
        )
        plan = explain.physical_plan(df)
        assert "SortMergeJoin" in plan, plan
        # the ONLY exchange is the final segment aggregation; the join
        # itself reads pre-bucketed, pre-sorted files
        assert explain.count_shuffles(df) == 1, plan
        assert "Sort " not in plan.replace("SortMergeJoin", "SMJ"), plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
