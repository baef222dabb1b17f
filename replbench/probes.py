"""Measurement plumbing that sits outside the program: spans, Spark job
counts, streaming progress, state-dir walks, digests and memory.

Nothing here changes what the program does. The job-group tagging and the
state-dir walks cost time, so the workloads use them only in traced calls.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans, written out once when the run ends. With
    ``enabled=False`` spans are still timed (the workloads read their
    durations) but none is kept."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id, self.enabled = run_id, enabled
        self.spans: list[Span] = []
        self._next = 1
        self._lock = threading.Lock()
        self._open = threading.local()  # per-thread stack of open span ids

    def _reserve(self) -> int:
        with self._lock:
            self._next += 1
            return self._next - 1

    def _keep(self, span: Span) -> Span:
        if self.enabled:
            with self._lock:
                self.spans.append(span)
        return span

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> Span:
        """Record a span whose interval was measured elsewhere."""
        return self._keep(Span(self._reserve(), name, start, end, parent, self.run_id, attrs))

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Time the block. Yields a dict holding the span ``id`` and, after
        the block, ``dur`` in seconds. The parent defaults to the innermost
        span open on this thread; pass it for work on another thread."""
        stack = self._open.__dict__.setdefault("ids", [])
        if parent is None and stack:
            parent = stack[-1]
        box = {"id": self._reserve(), "dur": None}
        stack.append(box["id"])
        t0 = time.perf_counter()
        try:
            yield box
        finally:
            t1 = time.perf_counter()
            stack.pop()
            box["dur"] = t1 - t0
            self._keep(Span(box["id"], name, t0, t1, parent, self.run_id, attrs))

    def self_time(self, span: Span) -> float:
        """The span's duration minus the part its children cover."""
        kids = sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans if c.parent == span.id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                d = asdict(s)
                d["self"] = self.self_time(s)
                f.write(json.dumps(d) + "\n")


# -- Spark jobs ----------------------------------------------------------------

class JobCounter:
    """Tags calls with a job group and counts their jobs, stages and tasks.

    Counting is deferred to ``collect`` because the status store is fed by
    the asynchronous listener bus: a job that just ended may not be listed
    yet when the action returns."""

    def __init__(self, sc, run_id: str):
        self.sc, self.prefix = sc, f"replbench-{run_id}-"
        self.groups: dict[str, str] = {}  # group → label

    @contextmanager
    def tag(self, label: str):
        group = f"{self.prefix}{len(self.groups)}"
        self.groups[group] = label
        # Inside foreachBatch the caller runs on the stream's own thread,
        # whose job group is the query's run id: restore it afterwards.
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def collect(self, settle_s: float = 1.0) -> dict[str, dict[str, int]]:
        """{label: {jobs, stages, tasks}}; stages and tasks count what ran
        (skipped stages excluded)."""
        time.sleep(settle_s)
        tracker = self.sc.statusTracker()
        out = {}
        for group, label in self.groups.items():
            jobs = tracker.getJobIdsForGroup(group)
            stages = tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
            out[label] = {"jobs": len(jobs), "stages": stages, "tasks": tasks}
        return out


def exchanges(df: DataFrame) -> int:
    """Exchange nodes (shuffle, broadcast, reused) in the executed plan of a
    DataFrame that has already run, so the adaptive final plan is read."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\b\w*Exchange\b", plan))


# -- streaming progress ----------------------------------------------------------

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets", "triggerExecution")


class ProgressLog(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` of the session's queries; the
    events ride the listener bus, so no Spark job is involved."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event):
        self.terminated.clear()

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({
            "batch": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "end_offset": p.sources[0].endOffset if p.sources else None,
            "timestamp": p.timestamp,
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.set()

    def batches(self) -> dict[int, dict]:
        return {p["batch"]: p for p in self.progress}


def batch_files(checkpoint: str, progress: dict) -> list[str]:
    """Files a file-source micro-batch read, from the source's own offset
    log in the checkpoint (``sources/0/<logOffset>``)."""
    off = json.loads(progress["end_offset"])["logOffset"]
    base = os.path.join(checkpoint, "sources", "0", str(off))
    # every compactInterval-th entry is written as a compacted file that
    # holds the entries of all earlier batches too
    path = base if os.path.exists(base) else base + ".compact"
    with open(path) as f:
        lines = f.read().splitlines()[1:]  # first line is the log version
    entries = [json.loads(x) for x in lines if x.strip()]
    return [e["path"] for e in entries if e["batchId"] == off]


# -- files, digests, memory ----------------------------------------------------

def walk(root: str) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} of the data files under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> dict[str, int]:
    """Bytes, files and bucket dirs written between two ``walk``s."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return {
        "bytes": sum(after[p][0] for p in new),
        "files": len(new),
        "buckets": len({os.path.basename(os.path.dirname(p)) for p in new}),
    }


def digest(df: DataFrame) -> tuple[tuple[int, int], DataFrame]:
    """The result digest every check compares: row count and the xor of
    ``xxhash64`` over all output columns. Hashing every column forces every
    column to be computed (a bare count would let the optimizer prune the
    projection); xor, not sum, because summing 64-bit hashes overflows
    under ANSI mode. Returns the digest and the DataFrame that ran it."""
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.struct(*[F.col(c) for c in df.columns]))).alias("h"),
    )
    row = agg.collect()[0]
    return (row["n"], row["h"]), agg


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(values) -> float | None:
    """Median of the values that are not None; None when there are none."""
    xs = [x for x in values if x is not None]
    return statistics.median(xs) if xs else None


def pct(values: list[float], q: float) -> float:
    """The q-quantile (0 < q < 1) of at least two values."""
    return statistics.quantiles(values, n=100)[round(q * 100) - 1]
