"""Named query subsets for targeted sweeps — mechanized in round 9.

Rounds 7/8 assembled "the 35 layout-sensitive queries" ad hoc per sweep
command; this module pins the membership so every sweep (scale,
execution-config, data-shape) runs the SAME reproducible subset and the
evidence tables in BASELINE.md are regenerable.

Usage:
    python tools/check_strict.py --sf /tmp/sfskew $(python tools/subsets.py skew)
    bash tools/invariance_sweep.sh --sf /tmp/sf10x $(python tools/subsets.py layout)
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# The headline bench queries: bench.py is their single definition.
from bench import HEADLINE

# Distributed-machinery consumers (operators/ranking.py bounded boundary
# sample + bucket expressions): the round-7/8 rework surface.
MACHINERY = [
    "win_pct", "win_rank_dense", "ml_quantile_normalize", "quality_buckets",
    "agg_weighted_median", "pack_sequences", "dataset_curriculum",
    "analytics_rfm", "join_salted",
    "corpus_prepare_e2e", "corpus_prepare_e2e_production",
]

# Exact-decimal / grid-accumulator re-spells (round 8 catch #1): every
# corpus-group money sum now on decimal(18,0) grid accumulators.
EXACT_DECIMAL = [
    "agg_product", "agg_incremental_merge", "analytics_pareto",
    "agg_hash", "agg_global", "agg_grouping_sets", "agg_count_if",
    "analytics_shipping_priority", "analytics_local_supplier_volume",
    "ts_twap", "cdc_warehouse_report", "sql_parameterized",
    "sql_pipe_syntax", "scan_observe_metrics", "join_sort_merge",
    "agg_having", "win_range_frame",
]

# Grid second-moment re-spells (round 8 catch #2): corpus-group
# stddev/var/corr sites on exact decimal cross-sums.
GRID_STATS = [
    "ts_calendar_profile", "ts_seasonal_residual", "ts_gapfill",
    "ts_interpolate_linear", "anomaly_zscore", "sql_qualify",
    "agg_moments", "agg_stats",
]

# Iterative connectivity consumers (star-edge re-spell, round 8).
CONNECTIVITY = ["dedup_clusters", "dedup_survivors"]

# Every registered join strategy — the family AQE skew-split /
# salted_equi_join / broadcast thresholds exist for; the skew fixture's
# primary audience.
JOIN_FAMILY = [
    "join_left", "join_right", "join_full", "join_theta", "join_self",
    "join_cross", "join_inner_hash", "join_broadcast", "join_sort_merge",
    "join_semi", "join_anti", "join_range", "join_asof", "join_null_safe",
    "join_interval_overlap", "join_asof_forward", "join_asof_nearest",
    "join_temporal_scd2", "join_salted", "join_bucketed",
    "join_partition_pruned_dynamic", "join_lateral",
    # round-10 registrations: the budgeted overlap sibling and the
    # general-probe range-bucketed interval join (both exist FOR skew).
    "join_interval_overlap_bounded", "join_interval_bucketed",
]


def _dedup(*lists: list[str]) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    for lst in lists:
        for n in lst:
            if n not in seen:
                seen.add(n)
                out.append(n)
    return out


# Time-SPAN-sensitive queries (round 10): everything whose per-key work
# or state grows with the events TIME SPAN rather than the row count —
# hourly/session grids, event-time frames, as-of scans, watermarks. The
# audience of /tmp/sfspan (make_skew.py --mode span: timeline ×12).
TIME_SPAN = [
    "ts_gapfill", "ts_interpolate_linear", "ts_ohlc_downsample",
    "ts_ewma", "ts_calendar_profile", "ts_twap", "ts_seasonal_residual",
    "ts_derivative", "ts_max_drawdown", "ts_autocorr",
    "win_tumbling", "win_sliding", "win_session", "win_range_frame",
    "stream_tumbling", "stream_sliding", "stream_session",
    "stream_session_stateful", "late_data",
    "join_asof", "join_asof_forward", "join_asof_nearest",
    "cdc_state_asof", "join_interval_bucketed",
]

# String-semantics-sensitive queries (round 10): everything that
# tokenizes, cases, regexes, shingles, hashes, or measures document
# TEXT — the audience of /tmp/sftext (make_skew.py --mode text:
# adversarial Unicode / degenerate strings). This is where the JVM
# (Java regex, String casing, code-point lengths) and DuckDB (RE2,
# utf8proc) are most likely to disagree — the NULL-wave playbook,
# pointed at string semantics.
TEXT_SENSITIVE = [
    "text_tokenize", "text_stats", "text_quality", "text_entropy",
    "text_repetition", "text_ngram_freq", "text_pii_flag", "text_redact",
    "lang_id", "token_count", "token_oov_rate", "token_bigram_pmi",
    "token_bpe_merge", "doc_fingerprint", "doc_chunk_overlap",
    "tfidf", "tfidf_topk_per_doc", "search_bm25",
    "quality_buckets", "quality_ensemble", "quality_unigram_logprob",
    "quality_winsorize", "agg_entropy_diversity",
    "dedup_exact", "dedup_simhash", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_chunk_sig", "dedup_levenshtein",
    "dedup_url_canonical", "dedup_clusters", "dedup_survivors",
    "fn_string", "fn_string2", "fn_string3", "fn_regex", "fn_url",
    "fn_json", "fn_levenshtein_threshold",
    "decontaminate", "sample_stratified",
    # r12 addition: the multimodal/UDF family consumes documents.text as
    # its payload substrate (with_payload / synth_media), so adversarial
    # text IS adversarial bytes for it — the r12 probe caught
    # multimodal_frames emitting invalid UTF-8 from a byte window cut
    # through a multi-byte codepoint (crashes the driver's Arrow path).
    "multimodal_meta", "multimodal_decode", "multimodal_frames",
    "multimodal_resize", "multimodal_resample", "multimodal_phash",
    "multimodal_audio_features", "udf_surface", "udf_grouped_agg",
]

# Ordering-determinism-sensitive queries (round 10): everything whose
# result depends on the ORDER of rows within a tie class — window
# functions over ts, as-of/temporal joins, last-writer-wins CDC folds,
# top-k / rank / arg_max over a tie-prone value, sequence detection.
# The audience of /tmp/sfties (make_skew.py --mode ties: hot-instant +
# hour-grid ts ties, integer-rounded value ties, month-floored date
# ties). The repo convention is "every ordering carries a unique
# tiebreak"; this subset is where a violation becomes a hash mismatch.
TIES_SENSITIVE = [
    # window family over (ts [, event_id]) orderings
    "win_row_number", "win_rank_dense", "win_lag_lead", "win_running",
    "win_first_last", "win_pct", "win_nth_value", "win_range_frame",
    "win_rolling_median", "win_ratio_to_report", "win_gaps_islands",
    "win_running_distinct", "win_session", "win_sliding", "win_tumbling",
    # sorting / top-k (ranked-value ties)
    "sort_multi", "limit", "topk", "topk_per_group", "sample_per_group",
    "agg_minmax_by", "agg_mode", "agg_percentile_disc",
    "agg_percentile_exact", "agg_weighted_median",
    # as-of / temporal / interval joins (boundary-timestamp ties)
    "join_asof", "join_asof_forward", "join_asof_nearest",
    "join_temporal_scd2", "join_self", "join_interval_bucketed",
    "join_interval_overlap_bounded",
    # CDC last-writer-wins / version-chain (ts,seq) contracts
    "cdc_apply_batch", "cdc_scd2", "cdc_state_asof",
    "cdc_before_after_diff", "cdc_merge_replicas", "cdc_pk_change",
    "cdc_keys_churn", "cdc_order_audit", "cdc_exactly_once",
    "cdc_tombstone_gc", "dedup_state",
    # ordered-scan time-series / sequence analytics
    "ts_ewma", "ts_derivative", "ts_max_drawdown", "ts_autocorr",
    "ts_ohlc_downsample", "ts_twap", "ts_gapfill",
    "ts_interpolate_linear", "event_seq_pattern", "funnel_conversion",
    "anomaly_cusum", "analytics_pareto", "analytics_rfm",
    # ranked-value machinery consumers
    "ml_quantile_normalize", "quality_buckets", "quality_winsorize",
    "dataset_curriculum", "pack_sequences",
]

# Vector-domain-sensitive queries (round 12): every registered query
# that reads embeddings.embedding — the audience of /tmp/sfextremesvec
# (make_skew.py --mode extremes-vec: ±1e30 / zero / 1e-30 / mixed-
# magnitude vector palette probing the norm/dot ACCUMULATION dtype).
VECTOR_SENSITIVE = [
    "sim_search_topk", "sim_search_lsh", "sim_search_ivf",
    "sim_search_rerank", "search_rrf_fusion", "knn_classify",
    "kmeans_refine", "embedding_normalize", "embedding_quantize",
    "embedding_covariance", "embedding_pca_project", "ml_logreg_gd",
    "dedup_embedding_cosine", "dedup_semantic_keep", "udf_arrow",
    "fn_array", "fn_explode", "fn_array_hof2",
]

# The r8 "layout-sensitive" sweep set, mechanized (machinery + headline +
# both re-spell families + connectivity — supersedes the ad-hoc 35).
LAYOUT_SENSITIVE = _dedup(MACHINERY, HEADLINE, EXACT_DECIMAL, GRID_STATS, CONNECTIVITY)

# Data-shape sweep set (round 9): layout-sensitive ∪ the full join family —
# skew stresses shuffles AND join strategies.
SKEW_SWEEP = _dedup(LAYOUT_SENSITIVE, JOIN_FAMILY)

# ---------------------------------------------------------------------------
# Mechanical axis membership (round 13, VERDICT r12 item 3).
#
# The r12 bonus catch proved hand-curated subsets can hide a family from
# an axis for eleven rounds (multimodal consumes documents.text but was
# absent from the TEXT subset). The fix: each fixture axis declares the
# (table, column) set its make_skew.py builder MUTATES, and
# tools/readership.py derives every registered query's actual column
# readership from its physical plan (plus conservative whole-table hits
# for opaque loads the final plan can't show — memory-sink streams,
# temp-format re-encodes). tests/test_coverage_tools.py asserts each
# SUBSET-swept axis's curated list is a SUPERSET of the derived readers;
# the full-registry axes (skew/null/empty/permute/extremes) need no
# audit — they can't hide anything by construction (their entries below
# exist so the derivation is checkable against them too, documenting
# which queries each mutation can even reach).
AXIS_MUTATIONS: dict[str, set[tuple[str, str]]] = {
    "skew": {
        ("events", "user_id"), ("orders", "o_custkey"),
        ("lineitem", "l_partkey"), ("lineitem", "l_suppkey"),
    },
    "null": {
        ("events", "user_id"), ("events", "value"),
        ("lineitem", "l_extendedprice"), ("lineitem", "l_returnflag"),
    },
    "span": {("events", "ts")},
    "text": {
        ("documents", "text"), ("documents", "n_chars"),
        ("events", "props"),
    },
    "ties": {
        ("events", "ts"), ("events", "value"),
        ("orders", "o_orderdate"), ("lineitem", "l_shipdate"),
    },
    "extremes": {
        ("events", "value"), ("lineitem", "l_extendedprice"),
        ("orders", "o_orderdate"),
    },
    "vectors": {("embeddings", "embedding")},
}

# The subset each SUBSET-swept axis runs (shape_sweep.sh stages 4/5/6/9).
AXIS_SUBSET = {"span": "span", "text": "text", "ties": "ties", "vectors": "vectors"}

# Queries with NO fixture-table input at all: the Python DataSource
# family synthesizes its rows from seeded arithmetic on executors (the
# oracle reproduces them from generate_series), so they are genuinely
# immune to every fixture mutation. A query invisible to BOTH
# readership signals (no plan scan of a fixture table AND no recorded
# load) MUST be listed here — tests/test_coverage_tools.py asserts
# exact equality, so a future bypass (a new executor-side reader that
# skips DataFrameReader) fails the gate until it is either given a
# declared-inputs entry or proven input-free.
NO_FIXTURE_INPUT = {
    "cdc_apply_python_source",
    "scan_python_datasource",
    "scan_python_datasource_pushdown",
    "stream_python_datasource",
}


def mechanical_readers(axis: str, readership: dict) -> set[str]:
    """Names that mechanically read a mutated column of ``axis``.

    A name qualifies via (a) a plan-scan hit on a mutated (table, column)
    — the post-pruning truth — or (b) an OPAQUE load of a mutated table
    (the plan can't show which columns, so the whole table counts:
    conservative toward sweeping, never toward hiding)."""
    muts = AXIS_MUTATIONS[axis]
    tables = {t for t, _ in muts}
    out: set[str] = set()
    for name, r in readership.items():
        if any(c in r.get("scan", {}).get(t, []) for t, c in muts):
            out.add(name)
        elif any(t in tables for t in r.get("opaque", [])):
            out.add(name)
    return out


def _load_readership() -> dict:
    import json

    p = Path(__file__).with_name("readership.json")
    return json.loads(p.read_text())["queries"]


# Self-updating membership (round 13): each SUBSET-swept axis is the
# union of its hand-curated sensitivity core (above — kept: it documents
# WHY each family is sensitive, and may legitimately exceed readership,
# e.g. fn_string reads c_name/p_name, not documents.text) and the
# mechanically derived reader set. The r13 derivation audit found the
# curated lists under-inclusive by 54 (span) / 42 (text) / 67 (ties)
# names — every one a genuine reader of a mutated column (mostly the
# CDC/stream families over events.ts/value and the win_* family over
# ts orderings) — while the r12-mechanized vectors subset matched the
# derivation EXACTLY, validating the method. Regenerate the JSON with
# `python tools/readership.py --write` whenever the registry changes;
# tests/test_coverage_tools.py pins freshness (name-set equality) and
# the superset contract.
_READERSHIP = _load_readership()
_DERIVED = {}

SUBSETS = {
    "machinery": MACHINERY,
    "headline": HEADLINE,
    "exact_decimal": EXACT_DECIMAL,
    "grid_stats": GRID_STATS,
    "connectivity": CONNECTIVITY,
    "joins": JOIN_FAMILY,
    "layout": LAYOUT_SENSITIVE,
    "skew": SKEW_SWEEP,
    "span": TIME_SPAN,
    "text": TEXT_SENSITIVE,
    "ties": TIES_SENSITIVE,
    "vectors": VECTOR_SENSITIVE,
}

for _axis, _subname in AXIS_SUBSET.items():
    _DERIVED[_axis] = mechanical_readers(_axis, _READERSHIP)
    SUBSETS[_subname] = _dedup(SUBSETS[_subname], sorted(_DERIVED[_axis]))


def main() -> int:
    if len(sys.argv) != 2 or sys.argv[1] not in SUBSETS:
        print(f"usage: subsets.py {{{'|'.join(SUBSETS)}}}", file=sys.stderr)
        return 2
    print(" ".join(SUBSETS[sys.argv[1]]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
