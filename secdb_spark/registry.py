"""Operator registry — the single source of truth for the driver contract.

Every operator from SURVEY.md §2 registers here as:
    name -> spark_fn(spark, sf_dir) -> DataFrame      (the implementation)
    name -> oracle SQL string (DuckDB-runnable)       (the correctness oracle)

Ops without an exact SQL oracle (R/D classes: randomized, approximate,
streaming) register with oracle=None and get the driver's rows-only check.

Cross-engine determinism conventions (SURVEY §4.4) every registered pair
must follow:
  1. every double aggregate/derived value wrapped in round(x, 4) BOTH sides
  2. events.ts is µs-truncated both sides (catalog.py / DuckDB native read)
  3. window ORDER BY is tie-safe (append a unique key)
  4. no bare LIMIT — only ORDER-BY-complete top-k
  5. collect_list/set wrapped in sort_array; oracle uses list(x ORDER BY x)
  6. integer SUMs cast to BIGINT both sides (DuckDB sum(int) is HUGEINT)
  7. quantized-LONG operands widen to DECIMAL(38,0) BEFORE any product
     (x*x in LONG wraps silently above |x| ~3.03e9 in non-ANSI Spark and
     x^4 above ~55e3, while DuckDB raises — the r10 judge sweep; the
     closing num/den products stay decimal too, one IEEE division at
     the end)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, SparkQuery] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a (query, oracle) pair under an op-id."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _QUERIES:
            raise ValueError(f"duplicate op-id: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle.strip()
        return fn

    return deco


# Ops already driver-certified.  The driver records the FIRST 50 registry
# entries per round, so ops not yet certified must be emitted first and
# already-certified ones last.  Derived at import time from the union of
# CORRECTNESS_r*.json keys in the repo root so the set can never drift from
# what the driver actually recorded (a hand-maintained copy silently pushed
# 41 uncertified ops past the round-3 window before this change).


def _load_driver_certified() -> tuple[frozenset[str], frozenset[str]]:
    """Returns (green, exact_green): `green` is any green driver record
    (exact hash match OR a clean rows-only run), `exact_green` only the
    hash-match rows.  The distinction matters for ops UPGRADED from
    rows-only to exact-oracle: their old rows-only record is green, but
    the new oracle has never been driven, so they must re-enter the
    certification window (see _certification_order)."""
    import json
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    names: set[str] = set()
    exact: set[str] = set()
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        try:
            rows = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            # Legacy/foreign payload shape (top-level list of names):
            # tolerate rather than break the whole package at import time.
            names.update(n for n in rows if isinstance(n, str))
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                names.add(name)
                continue
            # Only a GREEN row certifies: exact-oracle ops need all three
            # matches; rows-only (R/D class) ops count when the driver ran
            # them without error.  A red row (the round-3 ts-unit
            # mismatches) must re-enter the certification queue after the
            # fix, not be treated as done.
            if row.get("err") == "no_oracle":
                names.add(name)
            elif (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                names.add(name)
                exact.add(name)
    return frozenset(names), frozenset(exact)


_DRIVER_CERTIFIED, _DRIVER_EXACT_CERTIFIED = _load_driver_certified()


# Ops whose ORACLE TEXT (or output contract) changed after an exact-green
# driver record was taken: the old record certifies the OLD pair, so these
# must re-enter the certification window even though their name is green.
# Keyed by (name, round-of-change) in the comment for audit:
#   join_inner — r6: revenue DECIMAL(38,6) dsum -> int64 fixed-point
#   (2.1x faster on the broadcast-bound headline; joins.py docstring).
#   dedup_url_canonical — r13: the utm-first separator repair step
#   (r12 ADVICE) rewrote the canonicalization chain in BOTH engines,
#   so the r12 exact record certifies the old chain.
# Remove an entry once a CORRECTNESS_r*.json from AFTER the change holds a
# green row (tests/test_registry.py pins the bookkeeping).
_ORACLE_CHANGED: dict[str, int] = {"join_inner": 6, "dedup_url_canonical": 13}


# Ops whose SPARK IMPLEMENTATION was restructured AFTER their last green
# driver record, with the oracle text unchanged (optimization rounds
# produce exactly this class).  The old record certified the OLD plan;
# the builder's selfcheck re-proved equivalence locally, but the driver's
# oracle is the ground truth, so these re-enter the 50-slot window until
# a post-change green lands (r13 judge directive #1).  Keyed to the round
# the implementation changed; entries whose post-change green already
# exists are stale no-ops kept for the audit trail.
#   round 13 — the optimization-round-1 restructures (OPTIMIZATION_r13.md
#   sections; dedup_near / sim_jaccard / dedup_clusters / ann_ivf_assign
#   landed in the driver's r13 window and self-cleared), PLUS the
#   r12-ADVICE correctness fixes committed in fd2a6b6 after
#   CORRECTNESS_r12 was captured (baseline_includes_partial_round).
#   round 14 — this round's restructures, appended as they land.
#   round 15 — registry ops rebound onto the api kernels they share.
# Remove an entry once a CORRECTNESS_r*.json from AFTER the change holds
# a green row (tests/test_registry.py pins the bookkeeping).
_IMPL_CHANGED: dict[str, int] = {
    # r13 optimization restructures
    "dedup_near": 14, "dedup_clusters": 14,  # re-restructured r14
    "ann_ivf_assign": 13,  # self-cleared: r13 window, exact green
    "sql_tpch_q18": 13, "sim_containment": 13,
    "lsh_band_sweep": 13, "dedup_minhash_b_bit": 13,
    "minhash_jaccard_calibration": 13, "lsh_candidates": 14,
    "dedup_clusters_exact": 14, "dedup_simhash": 14, "simhash_pairs": 14,
    "corpus_dup_ngram_share": 13, "lsh_eval": 14,
    "ivf_eval": 14,  # re-restructured r14
    "graph_pagerank": 15,  # re-restructured r14; calls api.pagerank r15
    "ann_pq_adc_topk": 13,
    "agg_percentile_disc": 13, "spearman_corr": 13, "stat_levene": 13,
    "source_length_ks": 13, "src_jsonl": 13,
    "graph_kcore": 14,  # re-restructured r14
    "build_secdb": 13, "abtest_cuped": 13, "agg_freq_items": 13,
    "geo_dense_clusters": 13,
    # r12-ADVICE fixes (fd2a6b6) committed after CORRECTNESS_r12
    "text_chunk_sliding": 13, "scd2_apply_changes": 13,
    "graph_closeness_seeds": 13, "graph_cosupply_edges": 13,
    "graph_triangle_count": 13, "graph_bfs_layers": 13,
    "graph_connected_components": 13,
    # r14 optimization restructures (small-path opt-ins etc.)
    "length_pareto_ks": 14, "heaps_law_fit": 14, "stat_mannwhitney": 14,
    "stat_ks_2samp": 14, "reorder_interval_percentiles": 14,
    "gap_expfit_ks": 14, "heavy_user_concentration": 14,
    "ship_lag_percentiles": 14, "decile_lift_table": 14,
    # r14: jaccard kernel — positional filter, HLL probe, all-pairs path
    "sim_jaccard": 14, "dedup_shingle": 14,
    # r14: single-pass gram restructure / scan-spread gate
    "text_novelty": 14, "text_sentiment": 14,
    # r14: prefix-sum kernels replace sliding RANGE frames
    "win_range_frame": 14,
    # r14: hoisted norms + scan-spread on the |Q|xN fold
    "knn_label_eval": 14,
    # r14: scan-spread gate on the row-group-bound Expand
    "data_profile": 14,
    # r14: scan-spread gate on the two row-group-bound tokenize passes
    "text_char_trigram_lm": 14,
    # r15: bound to api.sessionize / api.funnel
    "events_sessionize": 15, "funnel_events": 15,
}


def _load_correctness_rows() -> list[tuple[int, dict]]:
    """All CORRECTNESS_r*.json payloads as (round, rows) pairs, parsed
    once per process (the files are immutable during a run)."""
    global _CORRECTNESS_ROWS
    if _CORRECTNESS_ROWS is not None:
        return _CORRECTNESS_ROWS
    import json
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    out: list[tuple[int, dict]] = []
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        try:
            file_rnd = int(f.stem.split("_r")[1])
            rows = json.loads(f.read_text())
        except (OSError, ValueError, IndexError):
            continue
        if isinstance(rows, dict):
            out.append((file_rnd, rows))
    _CORRECTNESS_ROWS = out
    return out


_CORRECTNESS_ROWS: list[tuple[int, dict]] | None = None


def _recert_pending(name: str) -> bool:
    """True while an _ORACLE_CHANGED or _IMPL_CHANGED op lacks a green
    record taken in or after the round it changed.  A green record is the
    exact triple for oracle-backed ops; for rows-only (R/D class) ops the
    driver emits err == "no_oracle" on a clean run, which is that class's
    green (the driver never emits no_oracle for an oracle-backed op)."""
    rnd = max(
        _ORACLE_CHANGED.get(name, 0), _IMPL_CHANGED.get(name, 0)
    )
    if not rnd:
        return False
    for file_rnd, rows in _load_correctness_rows():
        if file_rnd < rnd:
            continue
        row = rows.get(name)
        if isinstance(row, dict) and (
            (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            )
            or row.get("err") == "no_oracle"
        ):
            return False
    return True


def certified_at_current_class(name: str) -> bool:
    """True iff the driver already holds a green record AT THE OP'S
    CURRENT CLASS: exact-oracle ops need a hash-match record; rows-only
    ops any green record.  An op that gained an oracle after a rows-only
    green (round-6's dedup_simhash / sample_* / embed_kmeans upgrades)
    is NOT settled — it re-enters the first-50 window so the driver can
    record the exact match.  Likewise an op whose oracle changed after
    certification (_ORACLE_CHANGED) is unsettled until a post-change
    green record exists."""
    if _recert_pending(name):
        return False
    if name in _ORACLES:
        return name in _DRIVER_EXACT_CERTIFIED
    return name in _DRIVER_CERTIFIED


# SURVEY §2 rows-only ops that must win certification slots over registered
# extras (the driver checks only the first 50 entries per round; extras like
# sample_fraction / xbrl_metrics can wait a round, §2 op-ids cannot).
# Deferred-by-arithmetic extras (mm_features, dedup_simhash, sample_*,
# agg_freq_items, xbrl_metrics) are all property-tested locally and
# documented in README.md.
# dedup_clusters rode along through round 6 as the most informative extra;
# its round-7 rows-only→exact upgrade REMOVED it from this historical slate
# — re-listing it would re-enter it at the queue FRONT and displace the
# round-7 pinned window (join_inner recert) by one slot.  It queues with
# the other post-pin upgrades for round 8 via the R8 slate.  xbrl_filings
# left for the same reason (round-7 golden-oracle upgrade; R8 slate).
#   src_xbrl_etl / xbrl_supersede left in round 8 (golden-oracle upgrade
#   à la xbrl_filings — re-listing them would re-enter them at the queue
#   FRONT and displace two pinned R8-slate ops out of the driver's
#   window; they queue via the R12 slate instead).
#   snk_sqlite / build_secdb left later the same round for the same
#   reason (exact read-back oracle / portable-fingerprint golden
#   manifest); both queue via the R12 slate.
_ROWS_ONLY_PRIORITY: tuple[str, ...] = (
    "stream_watermark", "stream_dedup", "stream_stateful",
    "mm_resize", "mm_frame_sample",
)


# The 50 ops pinned to round-3 certification slots: the 39 pending
# exact-oracle §2 ops + the 11 priority rows-only ops above.  Pinning the
# slate (rather than computing it) keeps ops REGISTERED AFTER this round from
# displacing §2 op-ids out of the driver's first-50 window; new ops queue for
# round 4.  Once CORRECTNESS_r03.json lands, these names join
# _DRIVER_CERTIFIED and the slate becomes a no-op.
_CERT_SLATE: tuple[str, ...] = (
    "sql_tpch_q14", "sql_tpch_q19", "sql_tpch_q7", "sql_tpch_q15",
    "sql_tpch_q17", "sql_tpch_q22", "sql_window", "stream_tumbling",
    "stream_sliding", "stream_session", "stream_static_join",
    "stream_stream_join", "text_tokenize", "text_tf", "text_ngram",
    "text_lang", "text_sentiment", "text_langid", "text_quality",
    "text_tokens_bpe", "text_fingerprint", "seq_pack", "udf_python",
    "udf_pandas_scalar", "udf_pandas_agg", "udf_grouped_map", "udtf_python",
    "udf_arrow_map", "udf_cogrouped_map", "win_rownum", "win_rank",
    "win_ntile", "win_dist", "win_lag_lead", "win_running", "win_moving",
    "win_range_frame", "win_first_last", "win_topk_group",
) + _ROWS_ONLY_PRIORITY


# The 50 ops pinned to ROUND-6 certification slots: the 37 exact-oracle
# ops pending after round 5 (incl. the seven rows-only→exact upgrades),
# the 11 §2.Q batch-3 ops, and the two round-5 canonicalizer-fix reds
# (mm_features / embed_pca — the round's #1 deliverable, pinned LAST in
# the window but INSIDE it so later-registered batch-4 exact ops cannot
# displace them).  Batch 4 (§2.R), embed_kmeans_lloyd, and the
# join_inner recert queue for round 7.  As with _CERT_SLATE, once
# CORRECTNESS_r06.json lands these names settle and the slate no-ops.
_CERT_SLATE_R6: tuple[str, ...] = (
    "stream_watermark",
    "stream_dedup",
    "stream_stateful",
    "sample_fraction",
    "sample_stratified",
    "embed_kmeans",
    "dedup_simhash",
    "lsh_candidates",
    "text_pmi_bigrams",
    "agg_skew_kurt",
    "skyline_2d",
    "interval_islands",
    "anomaly_iqr",
    "date_spine",
    "agg_grouping_id",
    "fn_try_cast",
    "events_dow_hour",
    "dedup_clusters_exact",
    "graph_pagerank",
    "text_repetition",
    "text_entropy_tokens",
    "text_ttr",
    "corpus_ngram_topk",
    "win_drawdown",
    "ts_vwap",
    "orders_open_backlog",
    "cohort_ltv",
    "agg_gini",
    "agg_hhi",
    "join_nearest_ts",
    "events_burst",
    "scd2_asof_lookup",
    "sql_qualify",
    "sql_unpivot",
    "sql_filter_clause",
    "agg_bitmap_distinct",
    "data_skew_report",
    "sql_any_all",
    "sql_distinct_on",
    "agg_corr_matrix",
    "agg_weighted_median",
    "ts_bollinger",
    "new_vs_returning",
    "revenue_bridge",
    "customer_churn",
    "audit_dup_payments",
    "purchase_gaps",
    "part_xyz_cv",
    "mm_features",
    "embed_pca",
)


# The 50 ops pinned to ROUND-7 certification slots: everything left
# pending after the round-6 slate settles, in the order the queue held
# when registration reached 322 — batches §2.R-§2.AC, the two R-class
# stragglers, and the join_inner recert pinned LAST.  Pinning frees
# registration to continue: post-freeze ops queue for round 8 without
# displacing the recert out of round 7's window.
_CERT_SLATE_R7: tuple[str, ...] = (
    "geo_neighbor_join",
    "geo_grid_density",
    "ivm_delta_agg",
    "result_fingerprint",
    "win_topk_ties",
    "layout_zorder",
    "corpus_char_trigrams",
    "markov_stationary",
    "feat_onehot",
    "feat_scale",
    "split_train_test",
    "audit_k_anonymity",
    "mix_apply",
    "graph_khop",
    "ts_cross_corr",
    "cf_item_similarity",
    "lsh_eval",
    "ann_lsh_exact",
    "sim_containment",
    "feat_quantile_bin",
    "dedup_histogram",
    "events_type_overlap",
    "cms_sketch",
    "bloom_build",
    "sample_bottomk",
    "feat_hashing",
    "sql_values_inline",
    "sql_order_by_all",
    "sql_offset_fetch",
    "conversion_rate_ci",
    "abtest_ztest",
    "survival_km",
    "simhash_pairs",
    "win_nth_value",
    "mix_temperature",
    "agg_bool",
    "ts_autocorr",
    "embed_norm",
    "win_reset_cumsum",
    "orders_linecount_dist",
    "corpus_zipf_slope",
    "win_moving_median",
    "win_fill_forward",
    "xbrl_q_trend",
    "xbrl_q_ratios",
    "xbrl_q_restatement",
    "xbrl_region_mix",
    "embed_kmeans_lloyd",
    "text_compressibility",
    "join_inner",
)


# The 49 ops pinned to ROUND-8 certification slots: everything pending
# after the round-7 slate settles, in the order the queue held when round
# 7 closed at 369 registrations — the round-6 §2.AD batch-16 stragglers,
# the round-7 batches 1-5 (curation / embedding-compression / warehouse /
# EDGAR feed / null-safe join / ADC), and the round-7 rows-only→exact
# upgrades (dedup_near, dedup_clusters, vocab_growth re-oracle).  Pinning
# frees round-8 registration to continue: post-freeze ops queue for round
# 9 without displacing these.  The 50th slot holds the xbrl_filings
# golden-oracle upgrade (appended when it left _ROWS_ONLY_PRIORITY).
_CERT_SLATE_R8: tuple[str, ...] = (
    "xbrl_filings",
    "doc_quality_gate", "chunk_dedup_share", "dedup_keep_best",
    "text_hapax_ratio", "source_lang_matrix", "embed_pq_codes",
    "embed_matryoshka_truncate", "dedup_prefix_groups", "embed_coreset",
    "mix_epoch_upsample", "token_fertility_by_lang", "ann_pq_adc_topk",
    "text_novelty", "price_elasticity", "chi2_independence",
    "sla_attainment", "top_decile_share", "brand_transition",
    "trade_balance", "sla_percentiles", "peak_to_avg", "src_edgar_feed",
    "join_null_safe", "dedup_near", "ann_ivf_assign", "dedup_clusters",
    "anova_dow", "vocab_growth", "user_lifetime_dist", "error_rate_daily",
    "brand_breadth", "first_touch_mix", "users_cumulative",
    "graph_degree_dist", "events_props_stats", "orders_seasonality_index",
    "supplier_otd", "funnel_latency", "source_vocab_overlap", "ts_rsi",
    "agg_geomean", "discount_band_rev", "customer_reorder_rate",
    "ts_rolling_corr", "ts_trend_slope", "events_dispersion",
    "brand_return_rate", "nation_tax_rate", "session_bounce_rate",
)


# The 50 ops pinned to ROUND-9 certification slots: everything pending
# after the round-8 slate settles, in the order the queue held when round
# 7 closed at 398 registrations — agg_percentile_disc and the round-7
# batches 7-13 (two-sample tests, embedding diagnostics, oscillators,
# readability, JSON sink, information-rate metrics, stickiness,
# assortativity, structs, IVF eval, decay fits, behavioral PMI,
# cannibalization, bigram LM, the batch-14 XBRL golden trio), plus the
# xbrl_metrics golden-oracle recert.  0 slots stay free — batch 17 filled the window; further round-7/8 registrations queue for round 10 for round-8
# registrations.  As with the
# earlier slates, pinning keeps later module-import reordering from
# shuffling the queue; once CORRECTNESS_r09.json lands these names
# settle and the slate no-ops.
_CERT_SLATE_R9: tuple[str, ...] = (
    "agg_percentile_disc",
    "stat_mannwhitney", "stat_ks_2samp", "stat_welch_ttest",
    "embed_dim_stats", "embed_label_outliers", "embed_margin",
    "ts_stochastic", "ts_cusum", "event_gap_hist", "brand_rank_shift",
    "part_supplier_concentration", "order_priority_aging",
    "text_readability", "corpus_word_len_dist", "sql_named_window",
    "snk_json", "markov_entropy_rate", "source_cross_entropy",
    "stickiness_ratio", "graph_assortativity", "fn_struct",
    "ivf_eval", "user_hour_entropy", "retention_halflife",
    "supplier_leadtime_drift", "events_type_pmi", "brand_revenue_corr",
    "text_bigram_logprob", "xbrl_metrics",
    "xbrl_peer_rank", "xbrl_half_growth", "xbrl_region_hhi",
    "agg_theil", "ts_dominant_period", "attribution_time_decay",
    "mix_source_cap", "gapfill_interpolate", "source_length_ks",
    "ts_ewma_cross", "session_error_impact", "dedup_bag_exact",
    "nation_home_bias",
    "ts_sharpe", "brand_size_chi2", "reorder_interval_percentiles",
    "session_depth_dist", "customer_order_count_dist", "source_dup_rate",
    "sql_range_interval",
)


# Round-10 slate: the 38 post-R9 registrations of the round-7
# continuation session (batches 19-29 + ingestion/streaming additions),
# in registration order; 12 slots stay free for later batches.  As with
# the earlier slates, entries no-op once a green record lands.
_CERT_SLATE_R10: tuple[str, ...] = (
    "stream_cdc_apply", "knn_label_eval", "customer_lorenz_deciles",
    "gap_expfit_ks", "greedy_budget_pick", "fn_business_days",
    "source_js_divergence", "cross_source_dup_matrix",
    "customer_migration_matrix", "event_trigram_transitions",
    "spearman_corr", "assoc_cramers_v", "priority_mix_drift",
    "embed_cluster_purity", "pack_fill_stats", "ts_hurst",
    "stream_topk_windowed", "stream_hopping_uniques",
    "ts_theilsen_slope", "changepoint_binary", "audit_round_prices",
    "term_burstiness",
    "length_pareto_ks", "corpus_stopword_coverage", "knn_reciprocity",
    "join_asof_forward", "graph_kcore", "purchase_acceleration",
    "src_schema_evolution", "src_csv_corrupt_audit", "snk_csv_quoting",
    "ts_rolling_slope", "heavy_user_concentration", "key_gap_audit",
    "doc_opening_diversity",
    "mix_unique_mass", "trade_repeat_rate", "embed_quantize_error",
)


# Round-11 slate: the 34 registrations left beyond the round-10 window
# when round 8 opened (round-7 continuation batches 30-40 + the
# stats/warehouse stragglers), in registration order — pinned NOW so the
# whole backlog is slate-addressed (round-8 judge directive: every
# registered op holds a numbered slot; the backlog can only drain).
# 16 slots stay free: round-8 widening is capped at that budget so the
# certification queue shrinks for the first time.  As with the earlier
# slates, entries no-op once a green record lands.
_CERT_SLATE_R11: tuple[str, ...] = (
    "abtest_srm", "abtest_cuped", "stat_levene", "anomaly_robust_z",
    "part_price_dispersion", "customer_brand_loyalty", "fiscal_445_rollup",
    "trade_matrix", "first_session_conversion", "win_groups_frame",
    "win_exclude_current", "audit_benford2", "forecast_snaive_mase",
    "lsh_band_sweep", "quality_band_mix", "trade_reciprocity", "ts_pacf",
    "src_parquet_stats_audit", "geo_dense_clusters", "winback_rate",
    "brand_nation_lift", "ship_lag_percentiles", "weekend_lift",
    "dedup_savings_report", "join_hint_merge", "join_asof_native",
    "decile_lift_table", "part_sourcing_breadth", "rollup_calendar_grains",
    "embed_angle_hist", "price_volume_mix", "langid_confusion",
    "ecdf_lookup", "minhash_jaccard_calibration",
    # round-8 batch 1 (corpus design / separation diagnostics) — fills 8
    # of the 16 slots reserved above; 8 remain for round-8 batch 2.
    "corpus_dedup_curve", "text_prefix_novelty", "quality_rule_ablation",
    "mix_anneal_schedule", "heaps_law_fit", "vocab_topk_coverage",
    "vocab_gini", "embed_label_separation",
    # round-8 batch 2 (oscillators / beta / overlap / Spark-4 SQL surface)
    # — fills the remaining 8 reserved slots; round-8 widening stops here.
    "ts_macd", "ts_atr", "ts_beta", "events_audience_overlap",
    "hhi_trend", "win_weighted_moving_avg", "sql_pipe_syntax", "fn_variant",
)

# Round-12 slate: the round-8 rows-only→exact golden-oracle upgrades
# (src_xbrl_etl / xbrl_supersede — _xbrl_facts_oracle recomputes every
# fixture fact as a pure function of fixtures/gen_xbrl.py; snk_sqlite —
# exact round-trip oracle over the supplier table; build_secdb — the
# manifest checksum moved from Spark-only xxhash64 to the portable
# md5-bucket fingerprint, so DuckDB recomputes every manifest row from
# the golden fixture oracles).  All four hold rows-only greens from
# r2/r3/r4, so this is recertification at the exact class, queued BEHIND
# all first-time coverage (R8-R11) per the drain-the-backlog discipline;
# 46 slots remain free.
_CERT_SLATE_R12: tuple[str, ...] = (
    "src_xbrl_etl", "xbrl_supersede", "snk_sqlite", "build_secdb",
    # round-9 batch 1 (SURVEY §2.AZ) — fills 16 of the 46 free slots
    # (round-9 widening cap); all exact-oracle class.
    "ts_sortino", "ts_var_cvar", "ts_ljungbox", "ts_seasonal_strength",
    "stat_fisher_exact", "stat_binom_test", "agg_trimmed_mean",
    "ivm_delta_join", "fn_try_arith", "fn_collate_lcase",
    "bpe_merge_topk", "graph_jaccard_neighbors", "text_char_trigram_lm",
    "corpus_boilerplate_sentences", "xbrl_dupont", "xbrl_common_size",
    # round-10 batch 1 (SURVEY §2.BA) — fills 12 of the 30 free slots
    # (round-10 widening cap: <= 12, >= 18 slots stay spare); all
    # exact-oracle class.
    "graph_triangle_count", "join_interval_overlap", "agg_mode_exact",
    "ts_kendall_tau", "assoc_rules_lift", "price_index_laspeyres",
    "retention_triangle", "sql_lateral_join", "fn_json_extract",
    "fn_higher_order_array", "ts_ar1_fit", "dedup_minhash_b_bit",
    # round-11 batch 1 (SURVEY §2.BB + the xbrl_calc_check directive) —
    # fills 10 of the remaining free slots (round-11 widening cap: <= 16
    # so round 12 closes the entire backlog); all exact-oracle class.
    "xbrl_calc_check", "corpus_tfidf_topk", "graph_bfs_layers",
    "ts_ols_forecast", "join_nearest_value", "corpus_token_source_mi",
    "src_jsonl", "fn_url", "mix_token_budget", "ts_drawdown_duration",
    # round-11 batch 2 (taxonomy conformance / weighted percentiles /
    # ES weighted sampling) — widening now 13 of the <= 16 cap.
    "xbrl_period_unit_check", "agg_weighted_percentile",
    "sample_weighted_topk",
    # round-11 batch 3 (exact-certified multimodal plumbing + native
    # session_window parity) — widening closes at the 16-op cap; R12
    # load 36 of 50 slots.
    "mm_audio_frame_rms", "mm_image_hist", "sessionize_native",
)

# Round-12 widening slate: queued BEHIND the whole 36-op R12 backlog so
# CORRECTNESS_r12 certifies backlog first, widening after — capped at 14
# entries so backlog + widening fits ONE 50-slot driver window (r11
# judge directive #1; test_round12_backlog_fits_one_driver_window pins
# the arithmetic on the PENDING count, not tuple length).
_CERT_SLATE_R12B: tuple[str, ...] = (
    # batch 1 (SURVEY §2.BC: taxonomy dimensional validity + DTS
    # presence, the certified co-supply edge surface + connected
    # components, JB normality, DF unit root)
    "xbrl_dim_check", "xbrl_concept_check",
    "graph_cosupply_edges", "graph_connected_components",
    "stat_jarque_bera", "ts_adf_stat",
    # batch 2 (curation quartet: script mix, KL reweighting, duplicate
    # n-gram occupancy, sliding-window RAG chunking)
    "doc_script_mix", "mix_kl_reweight",
    "corpus_dup_ngram_share", "text_chunk_sliding",
    # batch 3 (warehouse pair: SCD2 batch merge, URL-canonical dedup)
    "scd2_apply_changes", "dedup_url_canonical",
    # batch 4 (Bartlett variance homogeneity, seed-set closeness
    # centrality) — round-12 widening closes exactly at the 14-op cap:
    # backlog 36 + widening 14 fills the 50-slot window.
    "stat_bartlett", "graph_closeness_seeds",
)


def _certification_order(names) -> list[str]:
    """Unsettled slate ops first, then other unsettled ops (exact-oracle
    before rows-only, each in registration order), settled last.
    "Settled" = certified_at_current_class: a rows-only→exact upgrade
    re-queues even though an old rows-only record exists."""
    names = list(names)
    # Slate pins exist for FIRST-TIME coverage ordering; an op whose
    # historical slate slot is long settled but that is now
    # recert-pending (_IMPL_CHANGED / _ORACLE_CHANGED) must re-enter via
    # the recert bucket below, not resurrect its slate position — the
    # r14 optimization round made several old-slate ops recert-pending
    # and their slate re-entry scrambled the pinned slate order
    # (caught by test_round7_slate_holds_its_window).
    slate = [
        n for n in (_CERT_SLATE + _CERT_SLATE_R6 + _CERT_SLATE_R7 + _CERT_SLATE_R8
           + _CERT_SLATE_R9 + _CERT_SLATE_R10 + _CERT_SLATE_R11
           + _CERT_SLATE_R12 + _CERT_SLATE_R12B)
        if n in names and not certified_at_current_class(n)
        and not _recert_pending(n)
    ]
    # Oracle-changed recerts queue BEHIND never-certified ops (including
    # the rows-only priority set): re-checking a changed-but-green op is
    # housekeeping and must never displace first-time coverage out of the
    # driver's 50-slot window.
    recert = [
        n for n in names
        if _recert_pending(n) and n not in slate
    ]
    pending_exact = [
        n for n in names
        if not certified_at_current_class(n) and n in _ORACLES
        and n not in slate and n not in recert
    ]
    pending_rows = [
        n for n in names
        if not certified_at_current_class(n) and n not in _ORACLES
        and n not in slate and n not in recert
    ]
    done = [n for n in names if certified_at_current_class(n)]
    return slate + pending_exact + pending_rows + recert + done


def all_queries() -> dict[str, SparkQuery]:
    _load_operators()
    return {n: _QUERIES[n] for n in _certification_order(_QUERIES)}


def all_oracles() -> dict[str, str]:
    _load_operators()
    return {n: _ORACLES[n] for n in _certification_order(_ORACLES)}


_loaded = False


def _load_operators() -> None:
    global _loaded
    if _loaded:
        return
    # Import for side effect: each module registers its operators.
    from .operators import (  # noqa: F401
        aggregations,
        corpus_extras,
        corpus_extras2,
        curation_extras,
        curation_extras2,
        econ_extras,
        edgar_feed,
        embed_extras,
        eval_extras,
        functions_scalar,
        geo_extras,
        ivm_extras,
        joins,
        layout_extras,
        llm_pipeline,
        markov_extras,
        ml_prep,
        mm_extras,
        pipeline_extras,
        projections,
        recsys_extras,
        sets_sorts,
        similarity_extras,
        sketch_extras,
        sources_sinks,
        sources_sinks2,
        sql_surface,
        stats_extras,
        stats_extras2,
        stats_extras3,
        streaming,
        text_analysis,
        timeseries,
        udfs,
        variance_extras,
        warehouse_extras,
        warehouse_extras2,
        warehouse_extras3,
        warehouse_extras4,
        warehouse_extras5,
        warehouse_extras6,
        warehouse_extras7,
        warehouse_extras8,
        warehouse_extras9,
        warehouse_extras10,
        warehouse_extras11,
        warehouse_extras12,
        warehouse_extras13,
        warehouse_extras14,
        warehouse_extras15,
        warehouse_extras16,
        warehouse_extras17,
        warehouse_extras18,
        warehouse_extras19,
        warehouse_extras20,
        warehouse_extras21,
        warehouse_extras22,
        warehouse_extras23,
        warehouse_extras24,
        warehouse_extras25,
        warehouse_extras26,
        warehouse_extras27,
        warehouse_extras28,
        warehouse_extras29,
        warehouse_extras30,
        warehouse_extras31,
        warehouse_extras32,
        warehouse_extras33,
        warehouse_extras34,
        warehouse_extras35,
        warehouse_extras36,
        warehouse_extras37,
        warehouse_extras38,
        warehouse_extras39,
        warehouse_extras40,
        windows,
        xbrl_analytics,
        xbrl_analytics2,
    )

    _loaded = True
