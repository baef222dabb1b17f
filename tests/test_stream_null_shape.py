"""Data-SHAPE gates for the STREAMING members, on LIVE execution
(round-9 verdict item 5 → round 10).

stream_session and cdc_scd2_stream were two of the thirteen round-9
NULL-fixture catches (null-safe ghost filter; null-safe SCD2 sink joins),
but tests/test_data_shape.py deliberately excludes streaming (micro-batch
replay is too slow for the main stage). These serialized tests replay a
small shape fixture's events through the REAL foreachBatch / micro-batch
path — the registered queries stage chunks and run a live stream — and
strict-compare against the unchanged DuckDB oracles on the same files,
so the shape contracts are pinned on real stream execution, not just the
batch-form oracle. The TIES twin adds the hazard only live execution
has: a timestamp tie class SPLIT ACROSS MICRO-BATCH BOUNDARIES — the
(ts, seq) fold and the SCD2 version chain must land identically however
the chunking slices a tied instant.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

from check_strict import compare  # noqa: E402
from make_skew import build_null, build_ties  # noqa: E402

from mongodb_mysql_cdc_spark.catalog import TABLES, path_for  # noqa: E402

STREAM_NULL_SUBSET = ["stream_session", "cdc_scd2_stream"]

# The tie-sensitive live members: the LWW fold (ReplicationPipeline's
# tail into the sink's ``reconcile`` by (ts, seq)) and the SCD2 version
# chain (``scd2_versions``: lead over (ts, seq)) — both must be
# chunking-invariant when a tied instant straddles a micro-batch cut —
# plus the watermark dedup (first-writer at a tied instant).
STREAM_TIES_SUBSET = ["cdc_apply_stream", "cdc_scd2_stream", "stream_dedup"]


def _strict_on(spark, sf: str, names: list[str]) -> dict[str, list[str]]:
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        p = path_for(sf, t)
        if Path(p).is_dir():
            p = f"{p}/*.parquet"
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
        )
    bad = {}
    for name in names:
        try:
            problems = compare(
                qs[name](spark, sf).toPandas(), con.sql(oracles[name]).df()
            )
        except Exception as ex:  # a crash is a finding, not a test error
            problems = [f"{type(ex).__name__}: {ex}"]
        if problems:
            bad[name] = problems[:3]
    return bad


@pytest.mark.serial
def test_stream_queries_hold_null_contract_on_live_replay(
    spark, sf_dir, tmp_path_factory
):
    null_dir = str(tmp_path_factory.mktemp("stream_shape") / "sfnull")
    build_null(spark, sf_dir, null_dir)
    bad = _strict_on(spark, null_dir, STREAM_NULL_SUBSET)
    assert not bad, bad


@pytest.mark.serial
def test_stream_queries_hold_tie_contract_on_live_replay(
    spark, sf_dir, tmp_path_factory
):
    """~9% of events at ONE instant (plus hour-grid ties): the replay's
    ts-ordered chunking now cuts through tie classes, so the stateful
    fold sees parts of a tied instant in different micro-batches. The
    (ts, seq) contracts must make the final state independent of the
    cut."""
    ties_dir = str(tmp_path_factory.mktemp("stream_shape_ties") / "sfties")
    build_ties(spark, sf_dir, ties_dir)
    bad = _strict_on(spark, ties_dir, STREAM_TIES_SUBSET)
    assert not bad, bad
