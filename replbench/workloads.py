"""The workloads. Each one drives the program only through its public entry
points (``ReplicationPipeline``, ``CdcParquetSink``, ``read_event_stream`` +
``envelopes_from_events``, ``expected_state``, ``registry.queries()``) and
returns what it measured; ``run.py`` turns that into metrics.

Every workload follows the same shape: ``prepare`` builds the inputs from
the seed and stages them (repeated ``PREPARE_REPEATS`` times so set-up time
is a median), then the timed operations run, then the correctness gate.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import tempfile
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import probes as tr

PREPARE_REPEATS = 3
READS = 5  # full materializations of the replica per pipeline run


@dataclass
class Run:
    """What one benchmark process shares across its phases."""

    spark: object
    seed: int
    seconds: int
    traced: bool
    tracer: tr.Tracer
    jobs: tr.JobCounter
    deadline: float  # time.monotonic() by which every stream must be done
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def op(self, ok: bool, what: str) -> bool:
        """Count one operation (a micro-batch, the snapshot, a query
        execution or a gate check)."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def attempt(self, what: str, fn):
        """Call ``fn``; if it raises, count a failed operation and return
        None. A failure of the program under test is a result to report,
        not a reason to stop measuring."""
        try:
            return fn()
        except Exception as e:
            self.op(False, f"{what}: {type(e).__name__}: {e}"[:500])
            return None

    def tag(self, label: str, traced: bool = True):
        return self.jobs.tag(label) if self.traced and traced else nullcontext()

    def prepare(self, build) -> tuple[object, list[float]]:
        """Call ``build()`` ``PREPARE_REPEATS`` times; returns the last
        result and every duration."""
        times, out = [], None
        for i in range(PREPARE_REPEATS):
            with self.tracer.span("inputs.prepare", repeat=i) as s:
                out = build()
            times.append(s["dur"])
        return out, times


# -- pipeline pieces shared by catchup and live_tail ---------------------------------

class ApplyProbe:
    """Stands in for ``CdcParquetSink.apply_batch`` and calls it. Every call
    keeps its wall-clock return time (lag needs it); a traced call also runs
    in its own job group and walks the state dir before and after."""

    def __init__(self, run: Run, sink):
        self.run, self.apply = run, sink.apply_batch
        self.state_dir = os.path.join(sink.state_dir, "state")
        self.parent: int | None = None
        self.calls: dict[int, dict] = {}

    def traced(self, batch_id: int) -> bool:
        # alternate, so the traced run also times untraced calls and the
        # difference is the tracing overhead
        return self.run.traced and (batch_id < 0 or batch_id % 2 == 0)

    def __call__(self, batch_df, batch_id: int) -> None:
        traced = self.traced(batch_id)
        before = tr.walk(self.state_dir) if traced else None
        rec = {"batch": batch_id, "traced": traced, "ok": False}
        self.calls[batch_id] = rec
        with self.run.tag(f"apply:{batch_id}", traced), self.run.tracer.span(
            "streaming.apply.apply_batch", self.parent, batch=batch_id, traced=traced
        ) as s:
            self.apply(batch_df, batch_id)
        rec.update(ok=True, dur=s["dur"], end_wall=time.time())
        if traced:
            rec.update(tr.written(before, tr.walk(self.state_dir)))

    def done(self, progress: dict[int, dict]) -> list[int]:
        """Tail batches whose call returned and whose progress arrived."""
        return sorted(b for b, c in self.calls.items() if b >= 0 and c["ok"] and b in progress)


def watch_streams(run: Run) -> threading.Timer:
    """Stop every active stream at the run's deadline, so a stuck drain
    fails the run instead of hanging it."""
    def stop_all():
        for q in run.spark.streams.active:
            q.stop()
    t = threading.Timer(max(run.deadline - time.monotonic(), 0), stop_all)
    t.daemon = True
    t.start()
    return t


def read_replica(run: Run, pipe) -> tuple[list[float], set]:
    """Time ``READS`` full materializations of ``current()``; returns the
    durations and the set of digests seen (one element when reads agree)."""
    times, digests = [], set()
    for i in range(READS):
        with run.tracer.span("replication.current", read=i) as s:
            d, _ = tr.digest(pipe.current())
        times.append(s["dur"])
        digests.add(d)
    return times, digests


def gate(run: Run, replica: set, truth_dir: str) -> dict:
    """The correctness gate: the replica must equal ``expected_state`` over
    the full generated history."""
    from mongodb_mysql_cdc_spark.replication import expected_state

    with run.tracer.span("replication.expected_state"):
        want, _ = tr.digest(expected_state(run.spark, truth_dir))
    ok = replica == {want}
    run.op(ok, f"replica digest {sorted(replica)} != expected {want}")
    return {"replica_digest": sorted(replica), "expected_digest": want, "gate_ok": ok}


def progress_layers(run: Run, progress: dict[int, dict], batches: list[int],
                    tail_span: int | None, wall0: float, perf0: float) -> dict:
    """Trigger phases of the tail batches from ``durationMs``; also adds
    them as spans under the tail span."""
    phase_ms = {p: [] for p in tr.PHASES}
    for b in batches:
        d = progress[b]["duration_ms"]
        for p in tr.PHASES:
            phase_ms[p].append(float(d.get(p, 0)))
        start = perf0 + (_iso_wall(progress[b]["timestamp"]) - wall0)
        trig = run.tracer.add("replication.trigger", start,
                              start + d.get("triggerExecution", 0) / 1e3, tail_span, batch=b)
        t = start
        for p in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                  "commitOffsets"):
            run.tracer.add(f"replication.trigger.{p}", t, t + d.get(p, 0) / 1e3, trig.id, batch=b)
            t += d.get(p, 0) / 1e3
    total = sum(phase_ms["triggerExecution"]) or 1.0
    out = {f"trigger.{p}_ms.p50": statistics.median(v) for p, v in phase_ms.items() if v}
    out.update({f"trigger.{p}_share": sum(v) / total for p, v in phase_ms.items()
                if p != "triggerExecution"})
    out["plan_s"] = [(t - a) / 1e3 for t, a in zip(phase_ms["triggerExecution"],
                                                    phase_ms["addBatch"])]
    return out


def _iso_wall(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def apply_layers(probe: ApplyProbe, batches: list[int], chunk_bytes: dict[int, int],
                 counts: dict) -> dict:
    """Per-batch sink figures from the traced calls."""
    traced = [b for b in batches if probe.calls[b]["traced"]]
    out = {}
    if traced:
        for k in ("jobs", "stages", "tasks"):
            out[f"{k}_per_batch"] = statistics.mean(counts[f"apply:{b}"][k] for b in traced)
        for k in ("bytes", "files", "buckets"):
            out[f"{k}_written_per_batch"] = statistics.mean(probe.calls[b][k] for b in traced)
        out["write_amplification"] = (sum(probe.calls[b]["bytes"] for b in traced)
                                      / max(sum(chunk_bytes[b] for b in traced), 1))
    if "apply:-1" in counts:
        out["snapshot_jobs"] = counts["apply:-1"]["jobs"]
    state = tr.walk(probe.state_dir)
    out["state_bytes"] = sum(v[0] for v in state.values())
    out["state_files"] = len(state)
    return out


def overhead_diffs(seq: list[tuple[bool, float]]) -> list[float]:
    """Tracing cost per operation from one sequence of the same operation,
    traced and untraced in alternation: each traced duration minus the mean
    of its untraced neighbours, so a steady drift (warm-up) cancels."""
    diffs = []
    for i, (traced, dur) in enumerate(seq):
        near = [seq[j][1] for j in (i - 1, i + 1) if 0 <= j < len(seq) and not seq[j][0]]
        if traced and near:
            diffs.append(dur - statistics.mean(near))
    return diffs


def chunk_of(path: str) -> int:
    """The chunk index a staged or published file belongs to."""
    for part in reversed(path.split("/")):
        if part.startswith("chunk=") or part.startswith("chunk-"):
            return int(part[6:].split(".")[0])
    raise ValueError(f"not a chunk file: {path}")


# -- catchup -----------------------------------------------------------------------

CATCHUP_ENVELOPES_PER_CHUNK = 2_500
CATCHUP_KEYS = 2_000


def catchup(run: Run) -> dict:
    """Closed-loop backlog drain: ``ReplicationPipeline(n_chunks,
    snapshot_chunks=1)`` snapshot, then ``tail()`` over every chunk."""
    from mongodb_mysql_cdc_spark.replication import ReplicationPipeline

    spark, tracer = run.spark, run.tracer
    # a warm batch takes ~1.5 s on a 4-core box: enough batches that the
    # median is past the JVM's warm-up, and the drain stays near --seconds
    n_chunks = max(4, run.seconds * 4 // 5)
    n_env = n_chunks * CATCHUP_ENVELOPES_PER_CHUNK
    gen_s, stage_s = [], []

    def build():
        src = tempfile.mkdtemp(prefix="catchup_src_")
        t0 = time.perf_counter()
        gen.write_parquet(gen.events(np.random.default_rng(run.seed), n_env, CATCHUP_KEYS),
                          os.path.join(src, "events.parquet"))
        t1 = time.perf_counter()
        pipe = ReplicationPipeline(spark, source_dir=src, n_chunks=n_chunks, snapshot_chunks=1)
        with tracer.span("replication.stage"):
            pipe.source.snapshot()  # the first call stages the replay chunks
        gen_s.append(t1 - t0)
        stage_s.append(time.perf_counter() - t1)
        return src, pipe

    (src, pipe), prep = run.prepare(build)

    # ReplicationPipeline hands its sink's bound apply_batch to foreachBatch
    # when tail() starts, so an instance attribute puts the probe in the path.
    sink = pipe._sink
    probe = ApplyProbe(run, sink)
    sink.apply_batch = probe
    with tracer.span("replication.snapshot") as snap:
        pipe.snapshot()
    run.op(probe.calls.get(-1, {}).get("ok", False), "snapshot")

    log = tr.ProgressLog()
    spark.streams.addListener(log)
    watchdog = watch_streams(run)
    wall0, perf0 = time.time(), time.perf_counter()
    try:
        with tracer.span("replication.tail") as tail:
            probe.parent = tail["id"]
            run.attempt("tail", pipe.tail)
    finally:
        watchdog.cancel()
        log.terminated.wait(30)
        spark.streams.removeListener(log)

    ckpt = os.path.join(pipe.sink_dir, "_checkpoint")
    progress = log.batches()
    delivered, chunk_bytes = 0, {}
    for b in range(n_chunks):
        call = probe.calls.get(b, {})
        files = tr.batch_files(ckpt, progress[b]) if b in progress else []
        # batch k must fold chunk k: files are published in order and the
        # stream takes one file per trigger
        mapped = bool(files) and all(chunk_of(f) == b + 1 for f in files)
        run.op(call.get("ok", False) and mapped, f"batch {b}: ok={call.get('ok')} files={files}")
        paths = [f.removeprefix("file:") for f in files]
        delivered += sum(pq.read_metadata(p).num_rows for p in paths)
        chunk_bytes[b] = sum(os.path.getsize(p) for p in paths)
    if delivered != n_env:
        run.op(False, f"tail delivered {delivered} envelopes, generated {n_env}")

    reads, replica = read_replica(run, pipe)
    out = gate(run, replica, src)
    counts = run.jobs.collect() if run.traced else {}
    done = probe.done(progress)
    trig = progress_layers(run, progress, done, tail["id"], wall0, perf0)
    apply_durs = [probe.calls[b]["dur"] for b in done]
    out.update(
        n_chunks=n_chunks, envelopes=n_env, keys=CATCHUP_KEYS,
        prepare_s=prep, generate_s=gen_s, stage_s=stage_s,
        snapshot_s=snap["dur"], tail_s=tail["dur"],
        envelopes_per_s=n_env / tail["dur"],
        # the JVM warms up over the first half of the tail: the latency
        # figure is the warm half, the throughput the whole drain
        op_s=apply_durs[len(apply_durs) // 2:], exec_s=apply_durs, plan_s=trig.pop("plan_s"),
        sink_dir=pipe.sink_dir, src=src,
        replica_read_s=reads, trigger=trig,
        input_rows_ratio=sum(progress[b]["rows"] for b in done) / n_env,
        apply=apply_layers(probe, done, chunk_bytes, counts),
        overhead_s=tr.median(overhead_diffs(
            [(probe.calls[b]["traced"], probe.calls[b]["dur"]) for b in done])),
    )
    return out


# -- live_tail ---------------------------------------------------------------------

LIVE_SNAPSHOT_KEYS = 300_000
LIVE_ENVELOPES_PER_CHUNK = 1_000
LIVE_PERIOD_S = 4.0
LIVE_LATE_SHARE = 0.01
LIVE_DUP_SHARE = 0.01
LIVE_WARMUP_CHUNKS = 6


def live_chunks(seed: int, snapshot: pa.Table, n: int) -> list[pa.Table]:
    """The live feed: chunk k holds ``LIVE_ENVELOPES_PER_CHUNK`` new events
    whose ``ts`` is the chunk's creation time on a virtual clock that starts
    a day after the snapshot (so the feed is the same for a seed on every
    run), keys uniform over the whole key space; about 1 % of them carry an
    older ``ts`` (late) and about 1 % more re-deliver an earlier event."""
    rng = np.random.default_rng([seed, 1])
    day_us = 86_400 * 1_000_000
    t0 = snapshot["ts"].cast(pa.int64()).to_numpy().max() - gen.EPOCH_US + day_us
    first_id = len(snapshot)
    period_us = int(LIVE_PERIOD_S * 1e6)
    out, prev = [], snapshot
    for k in range(n):
        t = gen.events(rng, LIVE_ENVELOPES_PER_CHUNK, LIVE_SNAPSHOT_KEYS, first_id=first_id,
                       t0_us=t0 + k * period_us, span_us=period_us)
        first_id += len(t)
        late = rng.random(len(t)) < LIVE_LATE_SHARE
        ts = t["ts"].cast(pa.int64()).to_numpy().copy()
        ts[late] -= rng.integers(1, 600, int(late.sum())) * 1_000_000
        t = t.set_column(1, "ts", pa.array(ts, pa.timestamp("us")))
        dups = prev.take(rng.integers(0, len(prev), int(len(t) * LIVE_DUP_SHARE)))
        t = pa.concat_tables([t, dups])
        out.append(t)
        prev = t
    return out


def live_tail(run: Run) -> dict:
    """Open loop against a large replica: ``snapshot()`` of about 300k keys,
    then a generator thread publishes a chunk every ``LIVE_PERIOD_S`` while
    the same composition ``tail()`` runs (``read_event_stream`` →
    ``envelopes_from_events`` → ``foreachBatch(CdcParquetSink.apply_batch)``)
    folds them in."""
    from mongodb_mysql_cdc_spark.replication import ReplicationPipeline
    from mongodb_mysql_cdc_spark.sources.cdc import envelopes_from_events
    from mongodb_mysql_cdc_spark.streaming.apply import CdcParquetSink
    from mongodb_mysql_cdc_spark.streaming.replay import read_event_stream

    spark, tracer = run.spark, run.tracer
    n_chunks = max(2, int(run.seconds // LIVE_PERIOD_S))
    warm = min(LIVE_WARMUP_CHUNKS, n_chunks // 2)
    gen_s, stage_s = [], []

    def build():
        src = tempfile.mkdtemp(prefix="live_src_")
        t0 = time.perf_counter()
        snap = gen.events(np.random.default_rng(run.seed), LIVE_SNAPSHOT_KEYS,
                          LIVE_SNAPSHOT_KEYS)
        gen.write_parquet(snap, os.path.join(src, "events.parquet"))
        chunks = live_chunks(run.seed, snap, n_chunks)
        t1 = time.perf_counter()
        pipe = ReplicationPipeline(spark, source_dir=src, n_chunks=1, snapshot_chunks=1)
        with tracer.span("replication.stage"):
            pipe.source.snapshot()
        gen_s.append(t1 - t0)
        stage_s.append(time.perf_counter() - t1)
        return snap, chunks, pipe

    (snap, chunks, pipe), prep = run.prepare(build)

    sink = CdcParquetSink(spark, pipe.sink_dir)
    snap_probe = ApplyProbe(run, pipe._sink)
    pipe._sink.apply_batch = snap_probe
    with tracer.span("replication.snapshot") as snap_span:
        pipe.snapshot()
    run.op(snap_probe.calls.get(-1, {}).get("ok", False), "snapshot")

    watched = tempfile.mkdtemp(prefix="live_feed_")
    outbox = tempfile.mkdtemp(prefix="live_outbox_")
    ckpt = os.path.join(pipe.sink_dir, "_checkpoint")
    probe = ApplyProbe(run, sink)
    log = tr.ProgressLog()
    spark.streams.addListener(log)
    wall0, perf0 = time.time(), time.perf_counter()
    q = (
        envelopes_from_events(read_event_stream(spark, watched))
        .writeStream.foreachBatch(probe)
        .option("checkpointLocation", ckpt)
        .start()
    )
    due = [time.time() + 2.0 + k * LIVE_PERIOD_S for k in range(n_chunks)]
    sent, chunk_bytes = {}, {}

    def publish():
        # written outside the watched dir, then renamed in, so the file
        # source never lists a partial file; mtimes ascend with k
        for k, t in enumerate(chunks):
            time.sleep(max(due[k] - time.time(), 0))
            tmp = os.path.join(outbox, f"chunk-{k:04d}.parquet")
            chunk_bytes[k] = gen.write_parquet(t.cast(_UTC_SCHEMA), tmp)
            os.replace(tmp, os.path.join(watched, os.path.basename(tmp)))
            sent[k] = time.time()

    watchdog = watch_streams(run)
    with tracer.span("replication.tail") as tail:
        probe.parent = tail["id"]
        gen_thread = threading.Thread(target=publish, name="replbench-generator")
        gen_thread.start()
        gen_thread.join()
        while (time.monotonic() < run.deadline and q.isActive
               and not all(probe.calls.get(k, {}).get("ok") for k in range(n_chunks))):
            time.sleep(0.05)
        drained_wall = time.time()
        q.stop()
    watchdog.cancel()
    log.terminated.wait(30)
    spark.streams.removeListener(log)

    progress = log.batches()
    lags = {}
    for k in range(n_chunks):
        call = probe.calls.get(k, {})
        files = tr.batch_files(ckpt, progress[k]) if k in progress else []
        mapped = [chunk_of(f) for f in files] == [k]
        if run.op(call.get("ok", False) and mapped, f"chunk {k}: ok={call.get('ok')} files={files}"):
            lags[k] = call["end_wall"] - due[k]

    reads, replica = read_replica(run, pipe)
    truth = tempfile.mkdtemp(prefix="live_truth_")
    gen.write_parquet(pa.concat_tables([snap, *chunks]), os.path.join(truth, "events.parquet"))
    out = gate(run, replica, truth)
    counts = run.jobs.collect() if run.traced else {}
    done = probe.done(progress)
    trig = progress_layers(run, progress, done, tail["id"], wall0, perf0)
    n_env = sum(len(t) for t in chunks)
    measured = [lags[k] for k in range(warm, n_chunks) if k in lags]
    out.update(
        n_chunks=n_chunks, warmup_chunks=warm, envelopes=n_env,
        snapshot_keys=LIVE_SNAPSHOT_KEYS, period_s=LIVE_PERIOD_S,
        prepare_s=prep, generate_s=gen_s, stage_s=stage_s,
        snapshot_s=snap_span["dur"], tail_s=tail["dur"],
        envelopes_per_s=n_env / max(drained_wall - due[0], 1e-9),
        op_s=measured, lag_s=[lags.get(k) for k in range(n_chunks)],
        exec_s=[probe.calls[b]["dur"] for b in done],
        sink_dir=pipe.sink_dir, src=truth,
        plan_s=trig.pop("plan_s"),
        generator_late_s=[sent[k] - due[k] for k in sorted(sent)],
        replica_read_s=reads, trigger=trig,
        input_rows_ratio=sum(progress[b]["rows"] for b in done) / n_env,
        apply=apply_layers(probe, done, chunk_bytes, counts),
        overhead_s=tr.median(overhead_diffs(
            [(probe.calls[b]["traced"], probe.calls[b]["dur"]) for b in done])),
    )
    return out


_UTC_SCHEMA = gen.EVENTS_SCHEMA.set(1, pa.field("ts", pa.timestamp("us", tz="UTC")))


# -- analytics ---------------------------------------------------------------------

def headline() -> dict[str, str]:
    """``bench.py``'s headline queries, each with its ``<module>.<query>``
    label (the suite module that defines it)."""
    from bench import HEADLINE
    from mongodb_mysql_cdc_spark import registry

    qs = registry.queries()
    return {n: f"{qs[n].__module__.rsplit('.', 1)[-1]}.{n}" for n in HEADLINE if n in qs}


ANALYTICS_SF = 0.02
ANALYTICS_WARMUP_PASSES = 3


def analytics(run: Run) -> dict:
    """The ``bench.py`` headline queries on generated tables: warm-up passes
    (the first gives each query's reference digest), then timed passes for
    --seconds."""
    from mongodb_mysql_cdc_spark import registry

    spark, tracer = run.spark, run.tracer
    gen_s = []

    def build():
        d = tempfile.mkdtemp(prefix="analytics_sf_")
        with tracer.span("inputs.generate") as s:
            gen.write_tables(d, run.seed, ANALYTICS_SF)
        gen_s.append(s["dur"])
        return d

    sf_dir, prep = run.prepare(build)
    qs = registry.queries()
    label = headline()
    names = list(label)

    ref, exch = {}, {}
    with tracer.span("suite.warmup") as w:
        # the JVM keeps getting faster for a few passes; time only after
        for p in range(ANALYTICS_WARMUP_PASSES):
            for n in names:
                got = run.attempt(n, lambda: tr.digest(qs[n](spark, sf_dir))[0])
                if got is not None:
                    ref.setdefault(n, got)
                    run.op(got == ref[n], f"{n} warm-up pass {p}: {got} != {ref[n]}")
    per = {n: {"build_s": [], "exec_s": [], "seq": []} for n in names}
    passes, t_start = [], time.monotonic()
    while len(passes) < 3 or (
        time.monotonic() - t_start + statistics.median(passes) <= run.seconds
    ):
        p = len(passes)
        with tracer.span("suite.pass", p=p) as ps:
            for j, n in enumerate(names):
                traced = run.traced and (p + j) % 2 == 0
                with run.tag(f"q:{n}:{p}", traced), tracer.span(
                    f"suite.{label[n]}", ps["id"], traced=traced
                ) as qspan:
                    with tracer.span("suite.build", qspan["id"]) as b:
                        df = run.attempt(n, lambda: qs[n](spark, sf_dir))
                    with tracer.span("suite.exec", qspan["id"]) as e:
                        res = None if df is None else run.attempt(n, lambda: tr.digest(df))
                if res is None:
                    continue
                got, agg = res
                run.op(got == ref.get(n), f"{n} pass {p}: {got} != {ref.get(n)}")
                per[n]["build_s"].append(b["dur"])
                per[n]["exec_s"].append(e["dur"])
                per[n]["seq"].append((traced, qspan["dur"]))
                if traced and n not in exch:
                    exch[n] = tr.exchanges(agg)
        passes.append(ps["dur"])
    counts = run.jobs.collect() if run.traced else {}
    ops = [b + e for n in names for b, e in zip(per[n]["build_s"], per[n]["exec_s"])]
    oh = [d for n in names for d in overhead_diffs(per[n]["seq"])]
    return {
        "sf": ANALYTICS_SF, "queries": names, "passes": len(passes),
        "prepare_s": prep, "generate_s": gen_s, "warmup_s": w["dur"],
        "pass_s": passes, "op_s": ops,
        "exec_s": [e for n in names for e in per[n]["exec_s"]],
        "plan_s": [b for n in names for b in per[n]["build_s"]],
        # each query at its best timed execution, as bench.py reports it:
        # pass times keep falling for a while after the warm-up passes
        "queries_per_s": len(names) / sum(
            min(b + e for b, e in zip(per[n]["build_s"], per[n]["exec_s"]))
            for n in names if per[n]["build_s"]),
        "per_query": {
            label[n]: {
                "build_s": tr.median(per[n]["build_s"]),
                "exec_s": tr.median(per[n]["exec_s"]),
                "jobs": tr.median([c["jobs"] for k, c in counts.items() if k.startswith(f"q:{n}:")]),
                "exchanges": exch.get(n),
                "digest": ref.get(n),
            }
            for n in names
        },
        "overhead_s": tr.median(oh),
    }


WORKLOADS = {"catchup": catchup, "live_tail": live_tail, "analytics": analytics}
