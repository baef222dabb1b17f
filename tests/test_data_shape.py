"""Data-SHAPE correctness gate (round 9): the skew and NULL fixtures as
a standing pytest stage.

The invariance program covers layout / scale / execution path; this
suite pins the fourth axis — the shape of the data itself. It builds
both tools/make_skew.py fixtures from sf0.01 into a session tmp dir
(self-contained: no dependence on /tmp state) and hash-compares a
representative query subset against DuckDB on the SAME files with the
driver-faithful comparator.

The NULL subset is exactly the round-9 catch set: every query here
FAILED (crash, dropped rows, or cross-engine value divergence) on the
first NULL-fixture sweep and was fixed with an explicit NULL contract —
this suite keeps those contracts pinned. Streaming members of the catch
set (stream_session, cdc_scd2_stream) are exercised by the full sweep
and their own serialized tests, not here (micro-batch replay is too
slow for this stage).
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

from check_strict import compare  # noqa: E402
from make_skew import (  # noqa: E402
    build_empty,
    build_extremes,
    build_null,
    build_skew,
    build_span,
    build_text,
    build_ties,
)

from mongodb_mysql_cdc_spark.catalog import TABLES, path_for  # noqa: E402

SKEW_SUBSET = [
    "join_inner_hash",
    "join_salted",
    "join_sort_merge",
    "topk_per_group",
    "win_pct",
    "agg_weighted_median",
    "cdc_apply_batch",
    "pricing_summary",
]

NULL_SUBSET = [
    "join_asof",
    "join_asof_forward",
    "win_pct",
    "ml_quantile_normalize",
    "agg_weighted_median",
    "win_rolling_median",
    "win_ratio_to_report",
    "ts_ewma",
    "agg_collect",
    "udf_grouped_agg",
    "cdc_schema_evolution",
]


@pytest.fixture(scope="module")
def shape_dirs(spark, sf_dir, tmp_path_factory):
    root = tmp_path_factory.mktemp("shape")
    skew, null = str(root / "sfskew"), str(root / "sfnull")
    build_skew(spark, sf_dir, skew)
    build_null(spark, sf_dir, null)
    return skew, null


@pytest.fixture(scope="module")
def span_dir(spark, tmp_path_factory):
    # built from sf0.01 (not sf0.001): the span axis needs enough events
    # per user for the stretched grids/sessions to be non-trivial, and
    # the x12 stretch keeps the grid at ~1.3M rows — still pytest-cheap.
    root = tmp_path_factory.mktemp("span")
    span = str(root / "sfspan")
    build_span(spark, "/root/testdata/sf0.01", span)
    return span


def _strict(spark, sf: str, names: list[str]) -> dict[str, list[str]]:
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        p = path_for(sf, t)
        if Path(p).is_dir():
            p = f"{p}/*.parquet"
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name in names:
        try:
            problems = compare(qs[name](spark, sf).toPandas(), con.sql(oracles[name]).df())
        except Exception as ex:  # a crash is a finding, not a test error
            problems = [f"{type(ex).__name__}: {ex}"]
        if problems:
            bad[name] = problems[:3]
    return bad


def test_skew_fixture_strict_subset(spark, shape_dirs):
    """One hot key holding ~50% of fact rows must not change any result:
    output is a pure function of the data, whatever its distribution."""
    skew, _ = shape_dirs
    bad = _strict(spark, skew, SKEW_SUBSET)
    assert not bad, bad


def test_null_fixture_strict_subset(spark, shape_dirs):
    """NULL group keys and NULL measure values at a few percent must
    produce hash-identical results on both engines — the round-9 catch
    set stays fixed."""
    _, null = shape_dirs
    bad = _strict(spark, null, NULL_SUBSET)
    assert not bad, bad


# Round-10 axis: per-key work that grows with the TIME SPAN, not the row
# count — the ts_interpolate_linear catch class. Grid + frame + session
# representatives (the full 24-query span subset runs in the per-round
# sweep; this is the standing self-contained gate).
SPAN_SUBSET = [
    "ts_interpolate_linear",
    "ts_gapfill",
    "win_session",
    "join_asof_nearest",
    "ts_calendar_profile",
]


def test_span_fixture_strict_subset(spark, span_dir):
    """A 12x-stretched timeline (30 days -> ~1 year) must not change any
    result: grids grow from 720 to 8,760 cells per user, session gaps all
    cross the 30-minute threshold, frames span the year — and every
    output stays a pure function of the data on both engines."""
    bad = _strict(spark, span_dir, SPAN_SUBSET)
    assert not bad, bad


# Round-10 axis: adversarial Unicode / degenerate strings. This is
# exactly the first-sweep catch set — every query here FAILED on the
# TEXT fixture (Java-vs-utf8proc lower() on Turkish İ, the empty-doc
# sequence() crash, and their downstream hash flips) and was fixed by
# the casefold contract (functions/text.py), the chunk_starts empty
# guard, and the shared sql_toks_cte builder. This gate keeps those
# contracts pinned.
TEXT_SUBSET = [
    "text_tokenize",
    "text_stats",
    "text_quality",
    "token_count",
    "doc_fingerprint",
    "doc_chunk_overlap",
    "tfidf",
    "tfidf_topk_per_doc",
    "dedup_chunk_sig",
    "fn_json",
    # r12: multimodal representatives — the payload substrate IS
    # documents.text (with_payload/synth_media), and the TEXT∘multimodal
    # probe caught multimodal_frames emitting invalid UTF-8 when a byte
    # window cut through a multi-byte codepoint (driver Arrow crash;
    # re-spelled to the byte-exact hex contract). frames + one decoder
    # pin the class; the full family runs in the per-round text sweep.
    "multimodal_frames",
    "multimodal_decode",
]


@pytest.fixture(scope="module")
def text_dir(spark, tmp_path_factory):
    # sf0.01 (500 docs): every 7th doc swaps to the 16-entry palette, so
    # each adversarial class appears ~4x; sf0.001's 50 docs would miss
    # half the palette.
    root = tmp_path_factory.mktemp("text")
    text = str(root / "sftext")
    build_text(spark, "/root/testdata/sf0.01", text)
    return text


def test_text_fixture_strict_subset(spark, text_dir):
    """Empty/whitespace-only docs, emoji+ZWJ, CJK, NFD marks, Turkish İ /
    Greek Σ casing traps, a 5000-char token, 500x repetition — tokenizer,
    chunker, fingerprint and TF-IDF must stay hash-identical across
    engines under the pinned casefold + empty-chunk contracts."""
    bad = _strict(spark, text_dir, TEXT_SUBSET)
    assert not bad, bad


# Round-10 axis: EMPTY input — every table 0 rows, schema preserved (the
# "filter matched nothing / tenant has no data" shape at 100 TB). The
# non-streaming first-sweep catch set: grouping-family ANSI () row
# (pinned via oracle HAVING count(*)>0), partitioned-sink read-back
# schema inference, observe-metrics None arithmetic, pagerank's
# constant-folded 1/0, dq_profile's sum-over-zero-rows NULL. Streaming
# members (stream_session, stream_stream_join_left, cdc_apply_stream,
# cdc_scd2_stream — the heartbeat None+timedelta and empty-state
# catches) run in the per-round full sweep: micro-batch replay is too
# slow for this stage, same policy as the NULL set.
EMPTY_SUBSET = [
    "agg_grouping_sets",
    "agg_rollup",
    "agg_cube",
    "agg_grouping_id",
    "sink_partition_overwrite",
    "scan_partition_pruned",
    "join_partition_pruned_dynamic",
    "scan_observe_metrics",
    "graph_pagerank_iter",
    "dq_profile",
    "retention_cohort",
    "fn_datetime",
    "fn_datetime2",
    "fn_interval",
    "cast_types",
]


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("empty")
    empty = str(root / "sfempty")
    build_empty(spark, "/root/testdata/sf0.001", empty)
    return empty


def test_empty_fixture_strict_subset(spark, empty_dir):
    """Zero-row tables must still plan, run, and agree with the oracle —
    no crash-on-empty, no lost ANSI rows, no schema-inference death."""
    bad = _strict(spark, empty_dir, EMPTY_SUBSET)
    assert not bad, bad


# Round-10 axis: order-key TIES — hot-instant + hour-grid ts ties,
# integer-rounded value ties, month-floored date ties (make_skew.py
# --mode ties). The first-sweep catch set (both fixed with pinned tie
# contracts): agg_minmax_by's bare-timestamp max_by kept an arbitrary
# row of the tie class per engine (now a lexicographic
# (epoch_us, event_id) composite on both), and join_asof_forward's
# DESC scan sorted equal-ts purchases AFTER the click, silently
# dropping the inclusive <= boundary match (now _side ASC inside the
# DESC scan). The rest are tie-prone representatives: the as-of family
# at boundary ties, last-writer-wins CDC folds at (ts,seq) ties,
# ranked-value machinery at value ties.
TIES_SUBSET = [
    "agg_minmax_by",
    "join_asof_forward",
    "join_asof",
    "join_asof_nearest",
    "dedup_state",
    "cdc_apply_batch",
    "cdc_scd2",
    "win_first_last",
    "topk_per_group",
    "agg_mode",
    "ts_ohlc_downsample",
]


@pytest.fixture(scope="module")
def ties_dir(spark, tmp_path_factory):
    # sf0.01: the hot instant holds ~920 events and each (user, hour)
    # cell ties several rows — enough that every ordering without a
    # unique tiebreak actually exercises a multi-row tie class.
    root = tmp_path_factory.mktemp("ties")
    ties = str(root / "sfties")
    build_ties(spark, "/root/testdata/sf0.01", ties)
    return ties


def test_ties_fixture_strict_subset(spark, ties_dir):
    """Massive order-key tie classes must not change any result: every
    ordering carries a unique tiebreak and every arg_max/arg_min ties on
    the PK, so the output is a pure function of the data even when 9% of
    events share one timestamp."""
    bad = _strict(spark, ties_dir, TIES_SUBSET)
    assert not bad, bad


# Round-10 axis: row-ORDER permutation (make_skew.py --mode permute —
# same rows, deterministic hash-of-PK shuffle of the on-disk order).
# Every other fixture stores rows in generator order, so nothing ever
# exercised collect-element order, scan-split membership (the ranking
# machinery's per-split prefixes), float summation order, or the
# two-phase top-K local candidate sets under a different layout. The
# first full-registry run (cross-engine AND Spark-vs-Spark self-
# invariance) was clean — this gate keeps the representatives of each
# risk class pinned: sorted collects, ordered limits, split-dependent
# prefix top-K, double-sum stats on decimal grids, machinery ranking,
# shingle/minhash pair emission, packing's global running sum.
PERMUTE_SUBSET = [
    "agg_collect",
    "limit",
    "topk_per_group",
    "join_interval_overlap_bounded",
    "win_pct",
    "agg_stats",
    "agg_weighted_median",
    "dedup_minhash_lsh",
    "pack_sequences",
]


@pytest.fixture(scope="module")
def permute_dir(spark, tmp_path_factory):
    from make_skew import build_permute

    root = tmp_path_factory.mktemp("permute")
    perm = str(root / "sfpermute")
    build_permute(spark, "/root/testdata/sf0.01", perm)
    return perm


# Round-11 axis: value-DOMAIN extremes (make_skew.py --mode extremes —
# ±1e9 money on the 2-decimal grid, zero/negative amounts, ×1000 price
# magnitudes, epoch/far-future order timestamps). The first sweep caught
# 7 queries in 4 classes: DuckDB hard-errors on log(0) where Spark
# returns NULL (fn_math, fn_trig → explicit x>0 domain guards); BIGINT
# overflow in the grid second-moment products (agg_stats,
# anomaly_zscore → DECIMAL(19,0) products) and in the double-product
# grid recovery (ts_twap → grid_wsum); Spark's BIGINT-returning floor
# saturating inside hround at 9e16 variance (→ double-domain floor);
# cross-engine drift from libm pow and DuckDB's double-rounding
# decimal→double literals (ts_ewma → pinned string-cast weight tables)
# and double running-sum association order (ts_max_drawdown →
# integer-cents curve). This gate keeps every catch pinned.
EXTREMES_SUBSET = [
    "fn_math",
    "fn_trig",
    "agg_stats",
    "anomaly_zscore",
    "ts_ewma",
    "ts_twap",
    "ts_max_drawdown",
    "pricing_summary",
    "retention_cohort",
    "agg_percentile_exact",
]


@pytest.fixture(scope="module")
def extremes_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("extremes")
    ext = str(root / "sfextremes")
    build_extremes(spark, "/root/testdata/sf0.01", ext)
    return ext


def test_extremes_fixture_strict_subset(spark, extremes_dir):
    """Money at the grid edges, zeros, negatives and epoch-boundary
    timestamps must produce hash-identical results on both engines —
    the r11 catch set stays fixed."""
    bad = _strict(spark, extremes_dir, EXTREMES_SUBSET)
    assert not bad, bad


# Round-12 axis: the VECTOR-palette extremes variant (make_skew.py
# --mode extremes-vec — ±1e30 / all-zero / 1e-30 / mixed-magnitude /
# negated embeddings; 1e30 is float32-representable while its square
# overflows float32, probing the norm/dot ACCUMULATION dtype). The
# first sweep caught 9 queries in 3 classes: zero-norm cosine is 0/0 —
# Spark ANSI raises DIVIDE_BY_ZERO where DuckDB IEEE-propagates (7
# sim-search/retrieval queries → 'norm > 0 excluded' contract in the
# same spelling on both engines, plus embedding_quantize's scale=0
# CASE); covar_samp's RELATIVE merge-order ulps exceed the ABSOLUTE
# rounding grid at 1e29 component magnitudes (embedding_covariance /
# _pca_project → conditioned validity domain 0 < ‖x‖ ≤ 1e3); and numpy
# PAIRWISE summation diverging from the oracle's sequential fold by an
# ulp that the grid can't absorb at 1e59 squared terms (udf_arrow →
# column-wise sequential fold, still vectorized). This gate keeps every
# catch pinned, over the 18 registered queries that read
# embeddings.embedding.
EXTREMES_VEC_SUBSET = [
    "sim_search_topk",
    "sim_search_lsh",
    "sim_search_ivf",
    "sim_search_rerank",
    "search_rrf_fusion",
    "knn_classify",
    "kmeans_refine",
    "embedding_normalize",
    "embedding_quantize",
    "embedding_covariance",
    "embedding_pca_project",
    "ml_logreg_gd",
    "dedup_embedding_cosine",
    "dedup_semantic_keep",
    "udf_arrow",
    "fn_array",
    "fn_explode",
    "fn_array_hof2",
]


@pytest.fixture(scope="module")
def extremes_vec_dir(spark, tmp_path_factory):
    from make_skew import build_extremes_vec

    root = tmp_path_factory.mktemp("extremesvec")
    ext = str(root / "sfextremesvec")
    build_extremes_vec(spark, "/root/testdata/sf0.01", ext)
    return ext


def test_extremes_vec_fixture_strict_subset(spark, extremes_vec_dir):
    """±1e30 / zero / 1e-30 / mixed-magnitude embedding palettes must
    produce hash-identical results on both engines — the r12 catch set
    stays fixed."""
    bad = _strict(spark, extremes_vec_dir, EXTREMES_VEC_SUBSET)
    assert not bad, bad


def test_extremes_vec_fixture_is_actually_adversarial(spark, extremes_vec_dir):
    """Vacuity guard for the vector palette: the huge, zero, and tiny
    vectors must actually be present (an identity fixture would make the
    strict gate a plain sf0.01 re-run)."""
    from pyspark.sql import functions as F

    from mongodb_mysql_cdc_spark.catalog import load
    from mongodb_mysql_cdc_spark.functions import vectors as V

    emb = load(spark, extremes_vec_dir, "embeddings")
    norms = emb.select(V.norm(F.col("embedding")).alias("n"))
    n_huge = norms.filter(F.col("n") > 1e28).count()
    n_zero = norms.filter(F.col("n") == 0.0).count()
    n_tiny = norms.filter((F.col("n") > 0) & (F.col("n") < 1e-28)).count()
    assert n_huge > 0, "extremes-vec fixture lost its 1e30 palette"
    assert n_zero > 0, "extremes-vec fixture lost its zero vectors"
    assert n_tiny > 0, "extremes-vec fixture lost its 1e-30 palette"
    dims = emb.select(F.size("embedding").alias("d")).distinct().collect()
    assert [r["d"] for r in dims] == [64], "extremes-vec fixture broke dim=64"


def test_fixtures_are_actually_adversarial(
    spark,
    shape_dirs,
    span_dir,
    text_dir,
    empty_dir,
    ties_dir,
    permute_dir,
    extremes_dir,
):
    """Vacuity guard: every strict gate above passes trivially if its
    builder silently stops deforming the data (an identity fixture makes
    the sweep a plain sf0.01 re-run). Pin the adversarial SHAPE itself:
    the hot key holds the skew mass, NULLs exist, the span stretched,
    the palette landed, the tables emptied, the tie classes are massive,
    and the permuted file really is out of original order."""
    from pyspark.sql import functions as F

    from mongodb_mysql_cdc_spark.catalog import load

    skew, null = shape_dirs
    ev = load(spark, skew, "events")
    hot_share = (
        ev.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
        / ev.count()
    )
    assert hot_share >= 0.4, f"skew fixture lost its hot key ({hot_share:.2f})"

    nulls = load(spark, null, "events").filter(F.col("user_id").isNull()).count()
    assert nulls > 0, "null fixture carries no NULL keys"

    base = load(spark, "/root/testdata/sf0.01", "events").agg(
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("s")
    ).collect()[0][0]
    stretched = load(spark, span_dir, "events").agg(
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("s")
    ).collect()[0][0]
    assert stretched >= 10 * base, "span fixture did not stretch the timeline"

    empty_docs = load(spark, text_dir, "documents").filter(F.col("text") == "").count()
    assert empty_docs > 0, "text fixture lost its empty-string palette entry"

    assert load(spark, empty_dir, "events").count() == 0, "empty fixture has rows"

    tev = load(spark, ties_dir, "events")
    top_tie = (
        tev.groupBy("ts").count().agg(F.max("count")).collect()[0][0] / tev.count()
    )
    assert top_tie >= 0.05, f"ties fixture lost its hot instant ({top_tie:.3f})"

    xev = load(spark, extremes_dir, "events")
    n_edge = xev.filter(F.abs(F.col("value")) == 999999999.99).count()
    assert n_edge > 0, "extremes fixture lost its grid-edge money palette"
    n_epoch = (
        load(spark, extremes_dir, "orders")
        .filter(F.col("o_orderdate") == F.lit("1970-01-01 00:00:00").cast("timestamp"))
        .count()
    )
    assert n_epoch > 0, "extremes fixture lost its epoch-boundary orders"

    con = duckdb.connect()  # hold the ref: a bare connect() is GC'd mid-chain
    first_ids = (
        con.sql(
            "SELECT event_id FROM read_parquet("
            f"'{permute_dir}/events.parquet/*.parquet') LIMIT 10"
        )
        .df()
        .event_id.tolist()
    )
    assert first_ids != sorted(first_ids), "permute fixture is in original order"


def test_permute_fixture_order_self_invariance(spark, permute_dir):
    """Each query's Spark output on the PERMUTED fixture must be
    row-set-identical to its output on the original sf dir — results
    are a pure function of the data, not the parquet row order."""
    import __spark_entry__ as e

    qs = e.queries()
    bad = {}
    for name in PERMUTE_SUBSET:
        try:
            problems = compare(
                qs[name](spark, "/root/testdata/sf0.01").toPandas(),
                qs[name](spark, permute_dir).toPandas(),
            )
        except Exception as ex:
            problems = [f"{type(ex).__name__}: {ex}"]
        if problems:
            bad[name] = problems[:3]
    assert not bad, bad
