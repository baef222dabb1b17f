"""Stream/batch parity + sink idempotency — the Structured Streaming
correctness argument (streaming result == batch result over data-so-far),
plus CDC-specific replay semantics."""

from __future__ import annotations

import datetime as dt
import json
import os
import tempfile
import types
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.sources.cdc import envelopes_from_events
from mongodb_mysql_cdc_spark.streaming import apply as apply_mod
from mongodb_mysql_cdc_spark.streaming.apply import (
    CdcParquetSink,
    Scd2ParquetSink,
    cdc_apply_batch,
    scd2_versions,
)
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


def _version_files(root, version):
    """{file name: mtime} of the parquet files in one state version dir."""
    d = os.path.join(root, "state", f"v={version}")
    return {
        f: os.path.getmtime(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }


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
    writes only the hash(key) buckets its delta touches — each of them
    gains exactly one delta version, holding that bucket's rows alone,
    while every other bucket keeps its chain (base included), whose
    parquet files keep their identity (same paths, same mtimes)."""
    env = envelopes_from_events(load(spark, sf_dir, "events"))
    root = tempfile.mkdtemp(prefix="state_bucket_")
    # one delta per bucket before compaction, so two batches make a base
    sink = _CompactingCdcSink(spark, root, n_buckets=8)
    sink.apply_batch(env, 0)
    sink.apply_batch(env, 1)  # compacts version 0 into base 1
    _, before = sink._load_manifest()
    assert len(before) > 1  # the assertion below is vacuous with one bucket
    assert all(chain == [1] for chain in before.values())
    files_before = _version_files(root, 1)
    assert files_before
    assert not os.path.exists(os.path.join(root, "state", "v=0"))

    # delta touching exactly one key → exactly one bucket
    one_key = env.orderBy("key").limit(1).select("key").collect()[0]["key"]
    delta = env.filter(F.col("key") == one_key)
    touched = delta.select(
        F.pmod(F.xxhash64("key"), F.lit(8)).alias("b")
    ).collect()[0]["b"]
    expected = _rows(
        cdc_apply_batch(env), ["key", "last_ts", "last_value"]
    )  # idempotent: replaying a subset cannot change LWW state
    sink.apply_batch(delta, 2)

    _, after = sink._load_manifest()
    assert set(after) == set(before)
    for b in before:
        if b == touched:
            assert after[b] == before[b] + [2]  # exactly one delta appended
        else:
            assert after[b] == before[b]  # base 1 alone, as before
    assert _version_files(root, 1) == files_before  # same paths + mtimes
    written = spark.read.parquet(os.path.join(root, "state", "v=2"))
    assert {r["bucket"] for r in written.select("bucket").distinct().collect()} == {touched}
    assert written.count() == delta.count()  # the batch's own rows, no state
    assert _rows(sink.current(), ["key", "last_ts", "last_value"]) == expected


def test_sink_executes_each_micro_batch_once(spark, sf_dir):
    """numInputRows counts every execution of a micro-batch, so over the
    whole stream it sums to the envelope count only when the sink executes
    each batch once (a delta batch is one write job, which also observes
    the buckets it wrote)."""
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
    assert sink._load_manifest()[0] == 2  # one batch per chunk, ids 0..2
    assert sum(p.numInputRows for p in q.recentProgress) == n_env
    cols = ["key", "last_ts", "last_event_type", "last_value", "last_k"]
    assert _rows(sink.current(), cols) == _rows(
        cdc_apply_batch(envelopes_from_events(ev)), cols
    )


SCD2_COLS = ["key", "seq", "value", "valid_from", "valid_to", "is_current"]


class _CompactingCdcSink(CdcParquetSink):
    """CdcParquetSink compacting a bucket as soon as its chain holds one
    delta, so a test's second batch into a bucket is a compacting batch."""

    MAX_DELTAS = 1


# per sink kind: the sink class, its read, and the batch oracle of a feed.
# "cdc"'s second batch is a delta batch, "cdc_compact"'s a compacting one;
# SCD2 is copy-on-write, so each of its batches folds what it touches.
SINKS = {
    "cdc": (
        CdcParquetSink,
        lambda sink: _rows(sink.current(), ["key", "last_ts", "last_value"]),
        lambda env: _rows(cdc_apply_batch(env), ["key", "last_ts", "last_value"]),
    ),
    "scd2": (
        Scd2ParquetSink,
        lambda sink: _rows(sink.history(), SCD2_COLS),
        lambda env: _rows(scd2_versions(env), SCD2_COLS),
    ),
}
SINKS["cdc_compact"] = (_CompactingCdcSink, *SINKS["cdc"][1:])


def _env_row(key, seq, v, op="u"):
    return Row(
        op=op, ts=dt.datetime(2024, 1, 1, 10, 0, seq), seq=seq, key=key,
        after=Row(user_id=key, event_type="x", value=v, k=0),
    )


def _two_batches(spark):
    """Batch 1 updates key 1 of batch 0 and adds key 3."""
    return [
        spark.createDataFrame([_env_row(1, 1, 1.0), _env_row(2, 2, 2.0)]),
        spark.createDataFrame([_env_row(1, 3, 3.0), _env_row(3, 4, 4.0)]),
    ]


def _die_in_manifest_dump(monkeypatch, sink, batch_df, batch_id, partial):
    """Apply a batch whose manifest ``json.dump`` dies — after writing
    ``partial`` characters — so the sink stops after its version write and
    before the manifest replace."""
    def dump(obj, f):
        f.write(json.dumps(obj)[:partial])
        raise OSError("simulated death mid-dump")

    monkeypatch.setattr(
        apply_mod, "json", types.SimpleNamespace(load=json.load, dump=dump)
    )
    with pytest.raises(OSError, match="mid-dump"):
        sink.apply_batch(batch_df, batch_id)
    monkeypatch.undo()


def test_commit_log_survives_torn_write(spark, monkeypatch):
    """A sink that dies midway through writing its manifest must leave the
    previous manifest readable (write-then-rename), so a restarted sink
    still knows the last committed batch and can redo the torn one. Both
    sinks share the commit path; both are checked, the CDC sink on a delta
    batch and on a compacting one."""
    for kind, (Sink, read, oracle) in SINKS.items():
        root = tempfile.mkdtemp(prefix=f"state_torn_{kind}_")
        batches = _two_batches(spark)
        sink = Sink(spark, root, n_buckets=4)
        sink.apply_batch(batches[0], 0)
        _die_in_manifest_dump(monkeypatch, sink, batches[1], 1, partial=2)

        restarted = Sink(spark, root, n_buckets=4)
        assert restarted._load_manifest()[0] == 0
        restarted.apply_batch(batches[1], 1)  # the redelivered batch folds again
        assert restarted._load_manifest()[0] == 1
        assert read(restarted) == oracle(batches[0].unionByName(batches[1]))
        if kind.startswith("cdc"):
            assert _rows(restarted.current(), ["key", "last_value"]) == [
                (1, 3.0), (2, 2.0), (3, 4.0)
            ]


@pytest.mark.parametrize("kind", sorted(SINKS))
def test_crash_before_manifest_replace_reads_previous_state(spark, monkeypatch, kind):
    """Crash point: the new version dir is fully written but the manifest
    was never replaced. A restarted sink must read exactly the pre-batch
    state (the written version is an orphan no read sees), and the
    redelivered batch must fold to the batch oracle."""
    Sink, read, oracle = SINKS[kind]
    root = tempfile.mkdtemp(prefix=f"state_crash_{kind}_")
    batches = _two_batches(spark)
    sink = Sink(spark, root, n_buckets=4)
    sink.apply_batch(batches[0], 0)
    before = read(sink)
    _die_in_manifest_dump(monkeypatch, sink, batches[1], 1, partial=0)
    assert _version_files(root, 1)  # the crashed attempt's version is on disk

    restarted = Sink(spark, root, n_buckets=4)
    last, chains = restarted._load_manifest()
    assert last == 0
    assert all(1 not in chain for chain in chains.values())
    assert read(restarted) == before
    restarted.apply_batch(batches[1], 1)
    assert read(restarted) == oracle(batches[0].unionByName(batches[1]))


@pytest.mark.parametrize("kind", sorted(SINKS))
def test_crash_mid_gc_leaves_state_and_next_commit_collects(spark, monkeypatch, kind):
    """Crash point: the manifest is committed and the sink dies while
    deleting a version no chain lists, after removing part of it. State
    is unaffected (no read goes through an unlisted version), and the next
    commit removes the leftovers. A compacting batch (and every SCD2
    batch) supersedes the versions it folds; a delta batch supersedes
    nothing, so what its GC deletes is a version that wrote no bucket —
    here its own, the batch being empty."""
    Sink, read, oracle = SINKS[kind]
    root = tempfile.mkdtemp(prefix=f"state_gc_{kind}_")
    batches = _two_batches(spark)
    if kind == "cdc":
        batches[1] = batches[1].where(F.lit(False))
        leftover, live_after = "v=1", {0}
    else:
        # batch 1 re-touches every key of batch 0, so it supersedes version 0
        batches[1] = batches[1].unionByName(spark.createDataFrame([_env_row(2, 5, 5.0)]))
        leftover, live_after = "v=0", {1}
    sink = Sink(spark, root, n_buckets=4)
    sink.apply_batch(batches[0], 0)

    def torn_rmtree(path):
        first = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))[0]
        os.remove(os.path.join(path, first))
        raise OSError("simulated death mid-GC")

    monkeypatch.setattr(apply_mod, "shutil", types.SimpleNamespace(rmtree=torn_rmtree))
    with pytest.raises(OSError, match="mid-GC"):
        sink.apply_batch(batches[1], 1)
    monkeypatch.undo()

    restarted = Sink(spark, root, n_buckets=4)
    last, chains = restarted._load_manifest()
    assert last == 1
    assert {v for chain in chains.values() for v in chain if v is not None} == live_after
    assert os.path.isdir(os.path.join(root, "state", leftover))
    so_far = batches[0].unionByName(batches[1])
    assert read(restarted) == oracle(so_far)

    third = spark.createDataFrame([_env_row(4, 6, 6.0)])
    restarted.apply_batch(third, 2)
    _, chains = restarted._load_manifest()
    live = {f"v={v}" for chain in chains.values() for v in chain if v is not None}
    assert set(os.listdir(os.path.join(root, "state"))) == live
    assert leftover not in live
    assert read(restarted) == oracle(so_far.unionByName(third))


def test_commit_metadata_stays_bounded(spark):
    """The manifest holds at most one chain per bucket, each of at most
    ``MAX_DELTAS + 1`` versions, and one batch id, so over many small
    batches neither it nor the set of live version dirs grows with the
    batch count: compaction and GC keep both bounded by
    ``n_buckets * (MAX_DELTAS + 1)``."""
    root = tempfile.mkdtemp(prefix="state_bounded_")
    n_buckets, span = 4, CdcParquetSink.MAX_DELTAS + 1
    sink = CdcParquetSink(spark, root, n_buckets=n_buckets)
    manifest = os.path.join(root, "_manifest.json")
    # the largest manifest the bound allows, with two-digit ids
    biggest = len(json.dumps({"batch": 99, "buckets": {
        str(b): [99] * span for b in range(n_buckets)}}))
    feed, compactions = [], 0
    for i in range(3 * span):
        batch = spark.createDataFrame([
            _env_row(1 + i % 5, 2 * i + 1, float(i)),
            _env_row(1 + i % 3, 2 * i + 2, -float(i)),
        ])
        feed.append(batch)
        sink.apply_batch(batch, i)
        _, chains = sink._load_manifest()
        assert len(chains) <= n_buckets
        assert all(len(chain) <= span for chain in chains.values())
        compactions += any(chain == [i] for chain in chains.values())
        state = os.path.join(root, "state")
        versions = [d for d in os.listdir(state) if d.startswith("v=")]
        assert len(versions) <= n_buckets * span
        assert sorted(versions) == sorted(
            {f"v={v}" for chain in chains.values() for v in chain if v is not None})
        # a chain that only grew would pass the bound by batch 3 * span
        assert os.path.getsize(manifest) <= biggest
    assert compactions >= 2
    whole = feed[0]
    for b in feed[1:]:
        whole = whole.unionByName(b)
    assert SINKS["cdc"][1](sink) == SINKS["cdc"][2](whole)


def test_manifest_less_state_reads_and_refuses_to_fold(spark):
    """A state dir in the plain ``partitionBy("bucket")`` layout with no
    manifest (the layout earlier sinks wrote, and the one a hand-made copy
    of a state has) reads as that state; apply_batch refuses it rather
    than fold onto an empty state."""
    batches = _two_batches(spark)
    good = CdcParquetSink(spark, tempfile.mkdtemp(prefix="state_good_"), n_buckets=4)
    good.apply_batch(batches[0].unionByName(batches[1]), 0)
    # the copy is made from a state read that folds a delta: 4 envelopes
    # of 3 keys on disk, 3 rows read
    assert all(len(chain) == 2 for chain in good._load_manifest()[1].values())
    root = tempfile.mkdtemp(prefix="state_plain_")
    good.state().write.partitionBy("bucket").parquet(os.path.join(root, "state"))

    plain = CdcParquetSink(spark, root, n_buckets=4)
    cols = ["key", "last_ts", "last_event_type", "last_value", "last_k"]
    assert _rows(plain.current(), cols) == _rows(good.current(), cols)
    assert plain.state().count() == good.state().count() == 3
    listing = sorted(os.listdir(os.path.join(root, "state")))
    with pytest.raises(ValueError, match="no manifest"):
        plain.apply_batch(spark.createDataFrame([_env_row(4, 9, 9.0)]), 1)
    assert not os.path.exists(os.path.join(root, "_manifest.json"))
    assert sorted(os.listdir(os.path.join(root, "state"))) == listing
    assert _rows(plain.current(), cols) == _rows(good.current(), cols)


def test_late_event_cannot_resurrect_deleted_key(spark):
    """Tombstone retention: an out-of-order update older than a delete must
    NOT re-insert the key (the reason state keeps op='d' rows)."""
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
    micro-batch rewrites only its delta's hash(key) buckets (copy-on-write:
    each becomes a new base) — every other bucket keeps its base version,
    whose files keep their paths and mtimes; (2) the folded history equals the one-shot batch window
    (stream == batch)."""
    env = envelopes_from_events(load(spark, sf_dir, "events"))
    # split the feed at the per-key-monotonic replay boundary: global ts order
    cut = env.agg(F.expr("percentile_approx(seq, 0.5)").alias("c")).collect()[0]["c"]
    root = tempfile.mkdtemp(prefix="scd2_bucket_")
    sink = Scd2ParquetSink(spark, root, n_buckets=8)
    sink.apply_batch(env.filter(F.col("seq") <= cut), 0)
    _, before = sink._load_manifest()
    assert len(before) > 1
    files_before = _version_files(root, 0)
    assert files_before

    one_key = env.orderBy("key").limit(1).select("key").collect()[0]["key"]
    delta = env.filter((F.col("seq") > cut) & (F.col("key") == one_key))
    touched = delta.select(
        F.pmod(F.xxhash64("key"), F.lit(8)).alias("b")
    ).collect()[0]["b"]
    sink.apply_batch(delta, 1)
    _, after = sink._load_manifest()
    assert set(after) == set(before)
    for b in before:
        if b == touched:
            assert after[b] == [1]  # copy-on-write: a new base, no delta
        else:
            assert after[b] == before[b] == [0]
    assert _version_files(root, 0) == files_before

    # finish the feed for the untouched keys, then compare against the
    # batch window over the whole feed
    sink.apply_batch(env.filter((F.col("seq") > cut) & (F.col("key") != one_key)), 2)
    want = _rows(scd2_versions(env), SCD2_COLS)
    got = _rows(sink.history(), SCD2_COLS)
    assert got == want


def test_scd2_sink_failure_replay_uncommitted_state(spark, sf_dir, monkeypatch):
    """The deterministic mid-batch crash the randomized stress can't pin:
    the sink dies BETWEEN the version write and the manifest replace, so
    the restart replays a batch whose fold is already on disk, in an
    orphan version dir. Pre-round-9 the replay duplicated every delta
    version row (the union re-added them) and re-closed the new open row
    with an OLDER timestamp (corrupted interval); the replay must fold to
    exactly the batch window, overwriting the orphan."""
    env = envelopes_from_events(load(spark, sf_dir, "events"))
    cut = env.agg(F.expr("percentile_approx(seq, 0.5)").alias("c")).collect()[0]["c"]
    root = tempfile.mkdtemp(prefix="scd2_uncommitted_")
    sink = Scd2ParquetSink(spark, root, n_buckets=8)
    sink.apply_batch(env.filter(F.col("seq") <= cut), 0)
    with open(os.path.join(root, "_manifest.json")) as f:
        manifest_0 = f.read()
    # a crash comes before the post-commit GC, so batch 0's versions stay
    monkeypatch.setattr(sink, "_gc", lambda owners: None)
    sink.apply_batch(env.filter(F.col("seq") > cut), 1)

    want = _rows(scd2_versions(env), SCD2_COLS)
    assert _rows(sink.history(), SCD2_COLS) == want

    # simulate the crash window: batch 1's version is fully written but
    # the manifest still names batch 0
    with open(os.path.join(root, "_manifest.json"), "w") as f:
        f.write(manifest_0)
    assert _version_files(root, 1)

    replay_sink = Scd2ParquetSink(spark, root, n_buckets=8)
    assert replay_sink._load_manifest()[0] == 0
    replay_sink.apply_batch(env.filter(F.col("seq") > cut), 1)
    assert replay_sink._load_manifest()[0] == 1
    got = _rows(replay_sink.history(), SCD2_COLS)
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
    assert cur_sink._load_manifest()[0] == 2   # committed before the crash
    assert hist_sink._load_manifest()[0] == 1  # never reached batch 2

    def apply_both(df, batch_id):
        cur_sink.apply_batch(df, batch_id)
        hist_sink.apply_batch(df, batch_id)

    q2 = (
        stream.writeStream.foreachBatch(apply_both)
        .option("checkpointLocation", ckpt)
        .start()
    )
    run_to_completion(q2)
    assert hist_sink._load_manifest()[0] == 5  # all 6 chunks landed
    assert cur_sink._load_manifest()[0] == 5

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
    staged = stage_event_chunks(spark, sf_dir, n_chunks=6, dir_prefix="restart")
    ckpt = tempfile.mkdtemp(prefix="sparkcdc_restart_ckpt_")
    root = tempfile.mkdtemp(prefix="sparkcdc_restart_state_")
    sink = CdcParquetSink(spark, root, n_buckets=4)
    stream = envelopes_from_events(read_event_stream(spark, staged))

    def apply_or_crash(df, batch_id):
        if sink._load_manifest()[0] == 1:
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
    assert sink._load_manifest()[0] == 1  # batches 0,1 committed; 2 crashed

    # restart from the same checkpoint: must drain the REMAINING chunks
    sink2 = CdcParquetSink(spark, root, n_buckets=4)
    q2 = (
        stream.writeStream.foreachBatch(sink2.apply_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    run_to_completion(q2)
    assert sink2._load_manifest()[0] == 5  # all 6 chunks (batch ids 0..5) landed

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
    assert sink._load_manifest()[0] == 2

    # the same batch FIRST on a fresh sink folds to nothing: no bucket
    # gets a version in its chain, which must still read as no state and the
    # typed empty history, and a normal batch must fold on top
    first = Scd2ParquetSink(spark, tempfile.mkdtemp(prefix="scd2_del0_"), n_buckets=4)
    first.apply_batch(spark.createDataFrame(ghost), 0)
    assert first._load_manifest()[0] == 0
    assert first.state() is None
    empty = first.history()
    assert empty.columns == cols and empty.count() == 0
    first.apply_batch(spark.createDataFrame(opens), 1)
    got = _rows(first.history(), cols)
    assert got == _rows(scd2_versions(spark.createDataFrame(ghost + opens)), cols)
    assert len(got) == 2 and all(r[-1] for r in got)  # both keys open
