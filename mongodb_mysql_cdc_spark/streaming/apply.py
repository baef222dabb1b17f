"""cdc_apply — fold a CDC envelope stream into a current-state table.

This is the engine's flagship stateful operator: the Structured-Streaming
re-expression of "apply the oplog to MySQL with INSERT … ON DUPLICATE KEY
UPDATE / DELETE" (SURVEY.md §2.9, §3-C).

Design:
- ``reconcile``: pure batch algebra — per key keep the image with the
  greatest (ts, seq); associative, so it can fold micro-batches in any
  grouping: reconcile(reconcile(a,b),c) == reconcile(a, b ∪ c). That
  associativity IS the exactly-once argument under micro-batch replay,
  and it is what lets the current-state sink defer the fold to read or
  compaction time.
- Tombstones STAY in the state table (op='d' rows are retained with their
  (ts, seq)): dropping them physically would let a late, older event
  resurrect a deleted key. ``current_state`` filters them at read time.
- ``CdcParquetSink`` (LWW current state) and ``Scd2ParquetSink`` (SCD2
  history) are foreachBatch writers on ONE commit path,
  ``_BucketedParquetSink.apply_batch``: a batch-id guard makes a replayed
  epoch a no-op (idempotent sink = exactly-once); each batch writes one
  version dir, and an ``os.replace`` of a small manifest (last batch id,
  bucket → base version + ordered delta versions) commits it atomically
  across buckets; versions no chain lists are then deleted. Each sink
  contributes only its fold and how many deltas a bucket may hold.

Scale: state is parquet keyed by hash(key) bucket. The current-state sink
is merge-on-read: a batch appends its own rows as a delta in one Spark job
that reads no state, so its write is O(batch); once a bucket holds
``MAX_DELTAS`` deltas, the next batch folds its chain into a new base,
which rewrites that bucket once. Reads fold the chains with one scan and
one aggregate. The SCD2 sink keeps no deltas (copy-on-write): each batch
reads and rewrites the buckets it touches.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from functools import reduce
from operator import or_
from typing import ClassVar

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongodb_mysql_cdc_spark.sources.cdc import OP_DELETE

STATE_COLS = ("key", "op", "ts", "seq", "after")

# bucket → chain: ``[base, *deltas]``, version ids, base None until the
# bucket is first compacted
Chains = dict[int, list[int | None]]


def reconcile(envelopes: DataFrame) -> DataFrame:
    """Collapse an envelope bag to one image per key: last-writer-wins by
    (ts, seq) — seq (the resume-token stand-in) breaks ts ties exactly the
    way the oplog's total order would.

    One ``max(struct(ts, seq, op, after))``: (ts, seq) leads the struct,
    and seq is the globally-unique oplog position, so within a key the
    comparison never reaches op/after except for byte-identical replayed
    rows (idempotent re-delivery), where either pick is the same row."""
    m = envelopes.groupBy("key").agg(
        F.max(F.struct("ts", "seq", "op", "after")).alias("_m")
    )
    return m.select(
        "key",
        F.col("_m.op").alias("op"),
        F.col("_m.ts").alias("ts"),
        F.col("_m.seq").alias("seq"),
        F.col("_m.after").alias("after"),
    )


def merge_states(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a reconciled delta onto an existing state — same LWW rule, so
    it is just reconcile(state ∪ delta). Both sides carry STATE_COLS."""
    return reconcile(state.select(*STATE_COLS).unionByName(delta.select(*STATE_COLS)))


def current_state(state: DataFrame) -> DataFrame:
    """The queryable sink table: tombstones filtered, document flattened —
    what the MySQL table would contain."""
    return state.filter(F.col("op") != OP_DELETE).select(
        F.col("key"),
        F.col("ts").alias("last_ts"),
        F.col("after.event_type").alias("last_event_type"),
        F.col("after.value").alias("last_value"),
        F.col("after.k").alias("last_k"),
    )


def cdc_apply_batch(envelopes: DataFrame) -> DataFrame:
    """Batch form of the whole apply: reconcile + tombstone filter."""
    return current_state(reconcile(envelopes))


# --- applyInPandasWithState form (SURVEY.md §2.9: "at scale
# applyInPandasWithState for in-flight state") -------------------------------
#
# The foreachBatch sinks below keep the state as parquet versions —
# correct, but every batch and every read round-trips through the
# filesystem.
# This form keeps the per-key LWW image in the Spark StateStore instead:
# executor-local, versioned, checkpointed incrementally — the shape that
# holds at 100 TB where the hot state must never be a full-table rewrite.

STATEFUL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("k", T.LongType()),
    ]
)

STATEFUL_OUTPUT_SCHEMA = T.StructType(
    [T.StructField("key", T.LongType())] + list(STATEFUL_STATE_SCHEMA.fields)
)


def cdc_apply_stateful_stream(env: DataFrame) -> DataFrame:
    """Streaming LWW apply via applyInPandasWithState over a flattened
    envelope stream (key, op, ts, seq, event_type, value, k)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    # NB: the kernel is a NESTED function on purpose — cloudpickle ships
    # nested functions by value, while a module-level function is pickled
    # by reference and the executor's Python worker would have to import
    # this package (which is only importable when the driver happens to run
    # from the repo root). Same rule as every other kernel in operators/.
    def lww_update_kernel(key, pdf_iter, state):
        """Per-key LWW fold over Arrow batches + GroupState. Emits the
        post-merge image whenever the key appears in a batch (update
        mode)."""
        import pandas as pd

        if state.exists:
            op, ts, seq, event_type, value, k = state.get
            ts = pd.Timestamp(ts)
        else:
            op = ts = seq = event_type = value = k = None

        for pdf in pdf_iter:
            best = pdf.sort_values(["ts", "seq"]).iloc[-1]
            if seq is None or (best["ts"], best["seq"]) > (ts, seq):
                # every nullable field gets the pd.isna guard — a bare
                # str(None)/float(None) would store the literal "None"/NaN
                # instead of NULL and diverge from the SQL oracle
                op = None if pd.isna(best["op"]) else str(best["op"])
                ts = best["ts"]
                seq = int(best["seq"])
                event_type = (
                    None if pd.isna(best["event_type"]) else str(best["event_type"])
                )
                value = None if pd.isna(best["value"]) else float(best["value"])
                k = None if pd.isna(best["k"]) else int(best["k"])

        state.update((op, ts.to_pydatetime(), seq, event_type, value, k))
        yield pd.DataFrame(
            [
                {
                    "key": key[0],
                    "op": op,
                    "ts": ts,
                    "seq": seq,
                    "event_type": event_type,
                    "value": value,
                    "k": k,
                }
            ]
        )

    flat = env.select(
        "key",
        "op",
        "ts",
        "seq",
        F.col("after.event_type").alias("event_type"),
        F.col("after.value").alias("value"),
        F.col("after.k").alias("k"),
    )
    return flat.groupBy("key").applyInPandasWithState(
        lww_update_kernel,
        STATEFUL_OUTPUT_SCHEMA,
        STATEFUL_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


@dataclass
class _BucketedParquetSink:
    """The commit path both parquet sinks share; a subclass supplies its
    fold and ``MAX_DELTAS``.

    Rows carry ``bucket = pmod(xxhash64(key), n_buckets)``. Every batch
    writes at most one version dir ``<state_dir>/state/v=<batch_id>``
    (bucket kept as a column), and ``<state_dir>/_manifest.json`` names the
    last committed batch id and, per bucket, its chain: a base version
    (null until the bucket is first compacted) followed by the delta
    versions appended since, oldest first. A bucket's rows are read only
    from the versions of its chain; every read goes through the manifest.
    ``apply_batch``

    1. skips a batch id at or below the manifest's — foreachBatch ids are
       monotone, so a replayed epoch is a no-op (idempotent sink +
       replayable source + WAL'd offsets = exactly-once);
    2. picks the buckets to compact: with ``MAX_DELTAS`` > 0, those whose
       chain already holds ``MAX_DELTAS`` deltas, touched by the batch or
       not — decided from the manifest alone; with ``MAX_DELTAS`` = 0
       (copy-on-write), every bucket the batch touches, which it learns by
       persisting the batch and running it once through a noop write that
       observes the buckets (no touched bucket: committed as a no-op);
    3. writes one version ``v=<batch_id>`` (plain overwrite, which also
       clears an orphan a crashed attempt left there) and observes the
       buckets it wrote on that same job. With nothing to compact it holds
       the batch's own rows, unfolded, and no state is read. Otherwise it
       holds ``_fold(old, rows, batch)``, where ``old`` is the compacted
       buckets' chains, read with one scan and the batch's schema: a
       compacted bucket's chain becomes that version alone, as its base,
       and a compacted bucket the fold left empty leaves the manifest;
    4. appends the version as a delta to the chain of every other bucket
       it wrote;
    5. commits by write-then-``os.replace`` of the manifest — the single
       atomic step, across all buckets;
    6. deletes the version dirs no chain lists: superseded bases and
       deltas, versions that wrote no bucket, and orphans of crashed
       attempts.

    Costs, with ``T = MAX_DELTAS``: a batch that compacts nothing is one
    Spark job over the batch alone, writing only its own rows. A bucket is
    compacted at most once every ``T + 1`` batches, and that batch reads
    and rewrites the bucket's whole chain; with uniformly spread keys,
    where every batch touches every bucket, that is the whole state once
    every ``T + 1`` batches. ``state()`` reads every live version with one
    parquet scan and, while any chain holds a delta, folds the result with
    one aggregate; a chain holds at most ``T + 1`` versions. With ``T`` = 0
    every batch folds the buckets it touches, so its I/O is bounded by
    those buckets, not by its size.

    A crash before step 5 leaves the previous manifest and so exactly the
    previous state; the redelivered batch then writes the same version
    again. A crash in step 6 leaves stale dirs no read sees, which the
    next commit removes. The manifest holds at most ``n_buckets`` chains of
    at most ``T + 1`` versions and one integer, so its size is bounded
    however many batches commit."""

    spark: SparkSession
    state_dir: str
    n_buckets: int = 16

    # how many deltas a bucket's chain may hold before a batch compacts it;
    # 0 is copy-on-write
    MAX_DELTAS: ClassVar[int] = 0

    @property
    def _state_path(self) -> str:
        return os.path.join(self.state_dir, "state")

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.state_dir, "_manifest.json")

    def _version_path(self, version: int) -> str:
        return os.path.join(self._state_path, f"v={version}")

    def _load_manifest(self) -> tuple[int | None, Chains]:
        """The last committed batch id (None before the first commit) and
        the bucket chains."""
        if not os.path.exists(self._manifest_path):
            return None, {}
        with open(self._manifest_path) as f:
            m = json.load(f)
        return m["batch"], {int(b): chain for b, chain in m["buckets"].items()}

    def _save_manifest(self, batch_id: int, chains: Chains) -> None:
        # state_dir does not exist yet when the first batch is empty; the
        # rename keeps the previous manifest whole if the dump dies midway
        os.makedirs(self.state_dir, exist_ok=True)
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            buckets = {str(b): chain for b, chain in sorted(chains.items())}
            json.dump({"batch": batch_id, "buckets": buckets}, f)
        os.replace(tmp, self._manifest_path)

    def _gc(self, chains: Chains) -> None:
        if not os.path.isdir(self._state_path):
            return
        live = {f"v={v}" for chain in chains.values() for v in chain if v is not None}
        for d in os.listdir(self._state_path):
            if d.startswith("v=") and d not in live:
                shutil.rmtree(os.path.join(self._state_path, d))

    def _manifest_less(self) -> bool:
        """A state dir in the ``partitionBy("bucket")`` layout (``bucket=N``
        dirs) with no manifest."""
        path = self._state_path
        return (
            not os.path.exists(self._manifest_path)
            and os.path.isdir(path)
            and any(d.startswith("bucket=") for d in os.listdir(path))
        )

    def _bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket", F.pmod(F.xxhash64("key"), F.lit(self.n_buckets))
        )

    def _read(
        self, chains: Chains, schema: T.StructType | None = None
    ) -> DataFrame:
        """The rows of the given buckets' chains, unfolded, from one parquet
        scan of their versions; the scan's ``v`` column (the version dir's
        name) keeps each bucket to the versions of its own chain."""
        owned: dict[int, list[int]] = {}
        for b, chain in chains.items():
            for v in chain:
                if v is not None:
                    owned.setdefault(v, []).append(b)
        reader = self.spark.read.option("basePath", self._state_path)
        if schema is not None:
            reader = reader.schema(schema)
        scan = reader.parquet(*(self._version_path(v) for v in sorted(owned)))
        return scan.filter(
            reduce(or_, [(F.col("v") == v) & F.col("bucket").isin(sorted(bs))
                         for v, bs in sorted(owned.items())])
        ).drop("v")

    def state(self) -> DataFrame | None:
        """The bucketed state table, one row per state entry (deltas
        folded), or None while it holds no row."""
        if self._manifest_less():
            return self.spark.read.parquet(self._state_path)
        _, chains = self._load_manifest()
        if not chains:
            return None
        rows = self._read(chains)
        if all(len(chain) == 1 for chain in chains.values()):
            return rows  # bases only: nothing to fold
        # only a merge-on-read sink (CdcParquetSink, MAX_DELTAS > 0) leaves
        # deltas, and its fold is reconcile
        return self._bucket(reconcile(rows))

    def _rows(self, batch: DataFrame) -> DataFrame:
        """The batch's own rows in the state schema, bucket included."""
        raise NotImplementedError

    def _fold(self, old: DataFrame, rows: DataFrame, batch: DataFrame) -> DataFrame:
        """The new content of the compacted buckets, given their ``old``
        rows; the batch's rows of any other bucket may come out as they
        are or folded."""
        raise NotImplementedError

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._manifest_less():
            raise ValueError(
                f"{self._state_path} holds bucket= dirs but no manifest;"
                " apply_batch would fold onto an empty state"
            )
        last, chains = self._load_manifest()
        if last is not None and batch_id <= last:
            return  # replayed epoch — idempotent no-op
        batch = self._bucket(batch_df.select(*STATE_COLS))
        if self.MAX_DELTAS:
            due = {b for b, chain in chains.items() if len(chain) > self.MAX_DELTAS}
            chains = self._write_version(batch, batch_id, chains, due)
        else:
            batch = batch.persist()
            try:
                touched = _observed_buckets(
                    batch, lambda df: df.write.format("noop").mode("overwrite").save()
                )
                if touched:
                    chains = self._write_version(batch, batch_id, chains, touched)
            finally:
                batch.unpersist()
        self._save_manifest(batch_id, chains)
        self._gc(chains)

    def _write_version(
        self, batch: DataFrame, batch_id: int,
        chains: Chains, due: set[int],
    ) -> Chains:
        """Write version ``batch_id``, compacting the ``due`` buckets; the
        chains it leaves once committed."""
        rows = self._rows(batch)
        if due:
            prior = {b: chains[b] for b in due if b in chains}
            old = self._read(prior, rows.schema) if prior else rows.where(F.lit(False))
            rows = self._fold(old, rows, batch)
        version = self._version_path(batch_id)
        written = _observed_buckets(
            rows, lambda df: df.write.mode("overwrite").parquet(version)
        )
        chains = {b: chain for b, chain in chains.items() if b not in due}
        for b in written:
            chains[b] = [batch_id] if b in due else chains.get(b, [None]) + [batch_id]
        return chains


def _observed_buckets(df: DataFrame, write) -> set[int]:
    """Run ``write`` on ``df`` and return the buckets its rows carry,
    collected by ``observe`` on that same job."""
    seen = Observation()
    write(df.observe(seen, F.collect_set("bucket").alias("buckets")))
    return set(seen.get["buckets"])


class CdcParquetSink(_BucketedParquetSink):
    """foreachBatch sink keeping the LWW current-state table (SURVEY.md
    §3-C step 3) on the shared bucketed commit path, merge-on-read: plain
    parquet has no MERGE, and reconcile is associative, so a batch appends
    its own envelopes, unreconciled, as a delta version — one Spark job, no
    state read, O(batch) bytes written — and the fold ``reconcile(base ∪
    deltas ∪ batch)`` runs only when a bucket's chain is compacted (by the
    batch after the one that gave it ``MAX_DELTAS`` deltas) and on reads,
    which scan the chains once and fold them with one aggregate. LWW is idempotent
    per key, so a replayed or partially applied batch folds to the same
    state. ``tests/test_streaming.py::test_sink_rewrites_only_touched_buckets``
    pins that a batch adds one delta to the buckets it touches and leaves
    every other chain, and its files, as they were. (The StateStore form
    ``cdc_apply_stateful_stream`` above is the no-filesystem-round-trip
    alternative.)

    ``MAX_DELTAS`` trades reads against writes: a larger value compacts
    less often (with uniform keys the whole state is rewritten once every
    ``MAX_DELTAS + 1`` batches) but leaves up to that many deltas per
    bucket for every read to fold."""

    MAX_DELTAS = 8

    def _rows(self, batch: DataFrame) -> DataFrame:
        return batch

    def _fold(self, old: DataFrame, rows: DataFrame, batch: DataFrame) -> DataFrame:
        return self._bucket(merge_states(old, rows))

    def current(self) -> DataFrame:
        st = self.state()
        if st is None:
            # no state row yet (e.g. an empty feed): the sink table is
            # empty, with current_state's static projection of the envelope
            return self.spark.createDataFrame(
                [],
                "key long, last_ts timestamp, last_event_type string,"
                " last_value double, last_k long",
            )
        return current_state(st)


def scd2_versions(envelopes: DataFrame) -> DataFrame:
    """SCD2 version rows from one envelope bag: every non-delete envelope
    opens an interval; the key's next envelope (delete included) closes
    it. Same (key)-partitioned window the apply path shuffles by."""
    w = Window.partitionBy("key").orderBy("ts", "seq")
    versioned = envelopes.select(
        "key", "ts", "seq", "op", F.col("after.value").alias("value")
    ).withColumn("next_ts", F.lead("ts").over(w))
    return versioned.filter(F.col("op") != OP_DELETE).select(
        "key",
        "seq",
        "value",
        F.col("ts").alias("valid_from"),
        F.col("next_ts").alias("valid_to"),
        F.col("next_ts").isNull().alias("is_current"),
    )


class Scd2ParquetSink(_BucketedParquetSink):
    """foreachBatch sink maintaining the SCD2 HISTORY table incrementally
    on the shared bucketed commit path — the streaming twin of the batch
    ``cdc_scd2`` window (same oracle: micro-batch folding must be
    invisible). Touched buckets come from ALL batch keys, deletes included,
    so an all-delete slice still closes its keys' open rows.

    The fold: (1) the batch's envelopes become version rows via the same
    window the batch form uses; (2) each touched key's still-open row in
    state is CLOSED with the key's first batch timestamp (delete envelopes
    close without opening). Correct under the replay's guarantee that
    per-key (ts, seq) never decreases across micro-batches — the oplog's
    total order (SURVEY §1.1). The close needs each touched key's open row,
    so this sink keeps ``MAX_DELTAS = 0`` (copy-on-write): every batch
    reads and rewrites the buckets it touches.

    Crash-replay idempotency: the manifest commit is atomic, so a crash
    before it leaves the previous state and the replay folds the batch
    afresh. The fold still guards per row, so a batch folded onto state
    that already holds it (even partially) changes nothing: (a) an open
    row is closed only when the batch's first (ts, seq) is STRICTLY
    GREATER than the row's own (valid_from, seq) — a replayed batch's
    first envelope never out-orders the open row it itself created;
    (b) version rows are added via a (key, seq) anti-join against the
    touched state, so rows already folded are not duplicated. Both guards
    are no-ops on the happy path. tests/test_streaming.py::
    test_scd2_sink_failure_replay_* pin both
    interleavings deterministically."""

    def _rows(self, batch: DataFrame) -> DataFrame:
        return self._bucket(scd2_versions(batch))

    def _fold(self, old: DataFrame, rows: DataFrame, batch: DataFrame) -> DataFrame:
        first_ts = batch.groupBy("key").agg(
            F.min(F.struct("ts", "seq")).alias("_first_delta")
        )
        # close-guard: strictly-greater (ts, seq) — replay-safe. Field
        # names aliased to match the aggregated struct so the comparison
        # is well-typed. The key joins are NULL-SAFE: a NULL document key
        # is a real CDC key group (the window oracle partitions it as
        # one), and a plain equi-join would leave its open rows unclosed.
        row_pos = F.struct(F.col("valid_from").alias("ts"), F.col("seq").alias("seq"))
        ft = first_ts.select(F.col("key").alias("_ft_key"), "_first_delta")
        closed = (
            old.join(F.broadcast(ft), F.col("key").eqNullSafe(F.col("_ft_key")), "left")
            .drop("_ft_key")
            .withColumn(
                "valid_to",
                F.when(
                    F.col("is_current")
                    & F.col("_first_delta").isNotNull()
                    & (row_pos < F.col("_first_delta")),
                    F.col("_first_delta.ts"),
                ).otherwise(F.col("valid_to")),
            )
            .withColumn("is_current", F.col("valid_to").isNull())
            .drop("_first_delta")
        )
        # add-guard: only version rows not already folded (replay /
        # partial-overwrite safe); (key, seq) is the version PK
        ex = old.select(F.col("key").alias("_ex_key"), F.col("seq").alias("_ex_seq"))
        fresh = rows.join(
            ex,
            F.col("key").eqNullSafe(F.col("_ex_key")) & (F.col("seq") == F.col("_ex_seq")),
            "left_anti",
        )
        return closed.unionByName(fresh)

    def history(self) -> DataFrame:
        st = self.state()
        if st is None:
            # no state row yet (an empty feed, or only all-delete batches
            # for unseen keys): empty history with the static schema
            return self.spark.createDataFrame(
                [],
                "key long, seq long, value double, valid_from timestamp,"
                " valid_to timestamp, is_current boolean",
            )
        return st.select(
            "key", "seq", "value", "valid_from", "valid_to", "is_current"
        )
