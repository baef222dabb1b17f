"""Adaptive parallelism for compute-dense operators.

Problem: a small parquet file arrives as ONE input split, so everything
upstream of the first shuffle runs on one core — invisible at 100 TB
(thousands of splits), catastrophic locally and on small dimension-sized
inputs feeding CPU-heavy expressions (per-shingle hashing, O(n²) vector
distance).

``spread`` repartitions ONLY when the scan produced fewer partitions than
the session's parallelism. On a real 100 TB read the input-split count
already exceeds the cluster's cores and this is a no-op — we never pay an
unnecessary full-corpus shuffle at scale, while small inputs fan out to
every core. Hash-partitioning by the given keys keeps downstream
key-joins/aggregations co-partitioned where possible.

The under-partitioned probe avoids ``df.rdd.getNumPartitions()`` on the
common path — that forces physical planning of the whole subtree and
costs 60-160 ms of plan-BUILD time per call. ``catalog.load`` annotates its DataFrames with a split-count
estimate (from the file's byte size it already stats); failing that, the
estimate comes from ``inputFiles()`` + ``os.stat`` (metadata only); the
planning probe remains as the last-resort fallback for exotic sources.
The estimate feeds only the fan-out DECISION (repartition or not) — rows
and results are identical either way, and the layout-invariance sweep
pins that.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

_SPLIT_BYTES = 128 << 20  # default spark.sql.files.maxPartitionBytes


def _estimated_splits(df: DataFrame) -> int | None:
    """Approximate input-split count without physical planning."""
    hint = getattr(df, "_sg_scan_splits", None)
    if hint is not None:
        return hint
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", ""):
            return None
        try:
            total += os.stat(unquote(parsed.path)).st_size
        except OSError:
            return None
    return max(len(files), -(-total // _SPLIT_BYTES))


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Fan ``df`` out to the session's default parallelism iff it is
    under-partitioned (see module docstring). ``cols``: optional hash keys;
    without them rows round-robin."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    est = _estimated_splits(df)
    if est is None:
        est = df.rdd.getNumPartitions()
    if est >= target:
        return df
    if cols:
        return df.repartition(target, *cols)
    return df.repartition(target)
