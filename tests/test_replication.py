"""End-to-end replication pipeline: snapshot + tail must converge to the
batch LWW fold of the full history (factoring invisibility — SURVEY §3),
and a restarted pipeline must be a no-op (idempotent replay)."""

from __future__ import annotations

import hashlib
import os
import random
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import pytest

from mongodb_mysql_cdc_spark.replication import ReplicationPipeline, expected_state
from tests.conftest import SF_ORACLE

REPO = str(Path(__file__).resolve().parent.parent)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_pipeline_converges_to_batch_fold(spark, sf_dir):
    pipe = ReplicationPipeline(
        spark, sf_dir, tempfile.mkdtemp(prefix="repl_test_"), n_chunks=4
    )
    pipe.snapshot()
    assert pipe.status()["last_batch"] == -1  # the snapshot epoch
    state = pipe.tail().current()
    want = expected_state(spark, sf_dir)
    assert sorted(state.columns) == sorted(want.columns)
    assert _rows(state.select(*sorted(state.columns))) == _rows(
        want.select(*sorted(want.columns))
    )
    status = pipe.status()
    assert status["live_rows"] == want.count()
    assert status["last_batch"] == 3  # one streamed epoch per chunk, ids 0..3


def test_pipeline_empty_feed(spark, tmp_path):
    """An EMPTY source (zero events) must replicate to an empty, VERIFIED
    state — not crash (round-10 EMPTY-fixture catches: heartbeat staging
    on max(ts)=None, the foreachBatch no-op guard, commit-log save before
    the state dir exists — the last found by running the CLI itself)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from make_skew import build_empty

    src = str(tmp_path / "sfempty")
    build_empty(spark, "/root/testdata/sf0.001", src)
    pipe = ReplicationPipeline(
        spark, src, str(tmp_path / "sink"), n_chunks=2
    )
    pipe.snapshot()
    assert pipe.status()["last_batch"] == -1  # the (empty) snapshot epoch
    state = pipe.tail().current()
    assert state.count() == 0
    want = expected_state(spark, src)
    assert want.count() == 0
    status = pipe.status()
    assert status["state_rows"] == 0
    assert status["last_batch"] == 1  # one streamed epoch per chunk, ids 0..1


def test_status_counts_fold_uncompacted_deltas(spark, sf_dir):
    """status() is exact while the sink's chains still hold deltas:
    ``state_rows`` (tombstones included) is the reconcile of the whole
    history and ``live_rows`` the expected state's count. The raw delta
    rows on disk, one per envelope, are never what is counted."""
    from mongodb_mysql_cdc_spark.sources.cdc import events_as_envelopes
    from mongodb_mysql_cdc_spark.streaming.apply import reconcile

    pipe = ReplicationPipeline(
        spark, sf_dir, tempfile.mkdtemp(prefix="repl_status_"), n_chunks=4
    )
    pipe.run()
    chains = pipe._sink._load_manifest()[1]
    assert chains and all(len(chain) > 1 for chain in chains.values())  # deltas left
    status = pipe.status()
    assert status["state_rows"] == reconcile(events_as_envelopes(spark, sf_dir)).count()
    assert status["live_rows"] == expected_state(spark, sf_dir).count()
    raw = spark.read.parquet(os.path.join(pipe.sink_dir, "state")).count()
    assert raw > status["state_rows"]  # so counting raw rows would fail


def test_stage_chunks_low_row_feed(spark, tmp_path):
    """0 < rows < n_chunks (sibling of the empty-feed pin): ntile fills
    low buckets first, so the single partitionBy staging write emits no
    dir for the high chunks — every chunk=%04d must still exist with a
    schema-bearing parquet so literal-path consumers (snapshot, the
    duplicate-chunk CDC replays) can read it, and the stamped mtimes must
    still ascend in chunk order (the replay-order contract)."""
    import os

    from mongodb_mysql_cdc_spark.catalog import load
    from mongodb_mysql_cdc_spark.streaming.replay import stage_event_chunks

    src = str(tmp_path / "sftiny")
    (
        load(spark, "/root/testdata/sf0.001", "events")
        .orderBy("ts", "event_id")
        .limit(3)
        .write.mode("overwrite")
        .parquet(f"{src}/events.parquet")
    )

    staged = stage_event_chunks(spark, src, n_chunks=8, dir_prefix="lowrow")
    dirs = sorted(e for e in os.listdir(staged) if e.startswith("chunk="))
    assert dirs == [f"chunk={i:04d}" for i in range(1, 9)]
    total = 0
    mtimes = []
    for d in dirs:
        part = spark.read.parquet(os.path.join(staged, d))  # must not raise
        total += part.count()
        mtimes.append(
            max(
                os.path.getmtime(os.path.join(staged, d, f))
                for f in os.listdir(os.path.join(staged, d))
            )
        )
    assert total == 3
    assert mtimes == sorted(mtimes)


def test_pipeline_restart_is_idempotent(spark, sf_dir):
    sink = tempfile.mkdtemp(prefix="repl_restart_")
    first = ReplicationPipeline(spark, sf_dir, sink, n_chunks=4)
    before = _rows(first.run().select("key", "last_ts"))
    # New pipeline object, same sink + checkpoint: the stream resumes at
    # the committed offsets and the snapshot epoch replays into the
    # batch-id guard — state must not change.
    second = ReplicationPipeline(spark, sf_dir, sink, n_chunks=4)
    after = _rows(second.run().select("key", "last_ts"))
    assert before == after


@pytest.mark.parametrize("snapshot_chunks", [0, 4 + 1])
def test_snapshot_chunks_out_of_range_fails_before_staging(spark, sf_dir, snapshot_chunks):
    """A snapshot of 0 chunks, or of more chunks than are staged, is
    refused by the constructor with a ValueError, not by a Spark read of
    a missing chunk dir once the replay is staged."""
    from mongodb_mysql_cdc_spark.sources.adapters import ParquetReplaySource

    with pytest.raises(ValueError, match="snapshot_chunks"):
        ParquetReplaySource(spark, sf_dir, n_chunks=4, snapshot_chunks=snapshot_chunks)


def test_source_adapter_seam(spark, sf_dir):
    """Both adapters satisfy the EnvelopeSource protocol; the production
    Mongo adapter fails loudly (no connector in the harness) rather than
    pretending."""
    from mongodb_mysql_cdc_spark.sources.adapters import (
        EnvelopeSource,
        MongoChangeStreamSource,
        ParquetReplaySource,
    )
    from mongodb_mysql_cdc_spark.sources.cdc import ENVELOPE_SCHEMA

    replay = ParquetReplaySource(spark, sf_dir, n_chunks=2)
    mongo = MongoChangeStreamSource(spark, "mongodb://db", "appdb", "events")
    assert isinstance(replay, EnvelopeSource)
    assert isinstance(mongo, EnvelopeSource)
    shape = lambda st: [(f.name, f.dataType.simpleString()) for f in st.fields]
    assert shape(replay.snapshot().schema) == shape(ENVELOPE_SCHEMA)
    with pytest.raises(RuntimeError, match="mongo-spark-connector"):
        mongo.stream()


_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
from mongodb_mysql_cdc_spark.session import get_session
from mongodb_mysql_cdc_spark.replication import ReplicationPipeline
spark = get_session("sigkill_child")
print("ready", flush=True)
ReplicationPipeline(spark, sys.argv[2], sys.argv[3], n_chunks=int(sys.argv[4])).run()
"""


@pytest.mark.serial
def test_pipeline_survives_sigkill(spark, tmp_path):
    """Real process death: ``ReplicationPipeline.run()`` in a child process
    (its Python, JVM and workers in one process group) is killed with
    SIGKILL at three seeded delays after its session is up, each restart
    resuming from the same ``sink_dir``; then the pipeline runs to the end
    here. 12 chunks at sf0.01 are a snapshot and 12 tail batches, so the
    run crosses a compaction of every bucket (at ``MAX_DELTAS`` = 8) and
    the kills land in staging, the snapshot, delta batches, the compaction
    or GC. After the restart the replica's digest equals
    ``expected_state``'s, the sink's last batch is the checkpoint's last
    committed batch, and every version dir on disk is in a live chain."""
    src, n_chunks = SF_ORACLE, 12
    sink = str(tmp_path / "sink")
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    rng = random.Random(20260419)
    for delay in [rng.uniform(1.0, 22.0) for _ in range(3)]:
        child = subprocess.Popen(
            [sys.executable, "-c", _CHILD, REPO, src, sink, str(n_chunks)],
            cwd=tmp_path, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, start_new_session=True,
        )
        try:
            assert child.stdout.readline().strip() == "ready"
            time.sleep(delay)
        finally:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()

    pipe = ReplicationPipeline(spark, src, sink, n_chunks=n_chunks)
    got = pipe.run()
    digest = lambda df: hashlib.sha256(
        repr(sorted(df.select(*sorted(df.columns)).collect())).encode()
    ).hexdigest()
    assert digest(got) == digest(expected_state(spark, src))
    commits = os.path.join(sink, "_checkpoint", "commits")
    last_commit = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert pipe.status()["last_batch"] == last_commit
    _, chains = pipe._sink._load_manifest()
    live = {f"v={v}" for chain in chains.values() for v in chain if v is not None}
    on_disk = {d for d in os.listdir(os.path.join(sink, "state")) if d.startswith("v=")}
    assert on_disk == live
