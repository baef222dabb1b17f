"""cdc_apply — fold a CDC envelope stream into a current-state table.

This is the engine's flagship stateful operator: the Structured-Streaming
re-expression of "apply the oplog to MySQL with INSERT … ON DUPLICATE KEY
UPDATE / DELETE" (SURVEY.md §2.9, §3-C).

Design:
- ``reconcile``: pure batch algebra — per key keep the image with the
  greatest (ts, seq); associative, so it can fold micro-batches in any
  grouping: reconcile(reconcile(a,b),c) == reconcile(a, b ∪ c). That
  associativity IS the exactly-once argument under micro-batch replay.
- Tombstones STAY in the state table (op='d' rows are retained with their
  (ts, seq)): dropping them physically would let a late, older event
  resurrect a deleted key. ``current_state`` filters them at read time.
- ``CdcParquetSink`` (LWW current state) and ``Scd2ParquetSink`` (SCD2
  history) are foreachBatch writers on ONE commit path,
  ``_BucketedParquetSink.apply_batch``: a batch-id guard makes a replayed
  epoch a no-op (idempotent sink = exactly-once); the micro-batch is
  executed once (persisted, its touched buckets observed while the cache
  is built); the fold of the touched buckets is written once, copy-on-write,
  to a new version dir, and an ``os.replace`` of a small manifest
  (last batch id, bucket → owning version) commits it atomically across
  buckets; superseded version dirs are then deleted. Each sink
  contributes only its fold.

Scale: state is parquet keyed by hash(key) bucket; each micro-batch
reads and rewrites only the key-buckets it touches. That bounds a batch's
I/O by the buckets it touches, not by its size: when keys are spread
uniformly, a batch of ``n_buckets`` or more keys touches nearly every
bucket and so rewrites nearly the whole table (the ``live_tail`` replbench
workload measures a write amplification of about 200×).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongodb_mysql_cdc_spark.sources.cdc import OP_DELETE

STATE_COLS = ("key", "op", "ts", "seq", "after")


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
# The foreachBatch sinks below re-read and rewrite the touched state
# buckets per micro-batch — correct, but the state round-trips through the
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
    """The commit path both parquet sinks share; a subclass supplies only
    its fold.

    Rows carry ``bucket = pmod(xxhash64(key), n_buckets)``. State lives in
    copy-on-write version dirs ``<state_dir>/state/v=<batch_id>`` (bucket
    kept as a column), and ``<state_dir>/_manifest.json`` names the last
    committed batch id and, per bucket, the version that owns its rows. A
    bucket's rows are read only from its owning version; every read goes
    through the manifest. ``apply_batch``

    1. skips a batch id at or below the manifest's — foreachBatch ids are
       monotone, so a replayed epoch is a no-op (idempotent sink +
       replayable source + WAL'd offsets = exactly-once);
    2. persists the bucketed micro-batch and runs it once through a noop
       write that builds the cache and observes its touched buckets — the
       batch executes once; no touched bucket means an empty batch,
       committed as a no-op;
    3. reads only the touched buckets from their owning versions, with the
       schema of the batch's own state rows (no schema-inference job);
    4. writes ``_fold(old, rows, batch)`` once, unpartitioned, to the new
       version dir ``v=<batch_id>`` (plain overwrite, which also clears an
       orphan a crashed attempt left there) and observes the buckets it
       wrote on that same job; those buckets move to the new version, and
       a touched bucket the fold left empty leaves the manifest;
    5. commits by write-then-``os.replace`` of the manifest — the single
       atomic step, across all buckets;
    6. deletes the version dirs no bucket owns: superseded versions, and
       orphans of crashed attempts.

    A batch reads and writes only the buckets it touches: untouched
    buckets keep their owning version and its files. With uniformly
    spread keys, a batch of ``n_buckets`` or more keys touches nearly all
    of them, so per-batch I/O then approaches the whole state. A crash before step 5
    leaves the previous manifest and so exactly the previous state; the
    redelivered batch then folds again. A crash in step 6 leaves stale
    dirs no read sees, which the next commit removes. The manifest holds
    at most ``n_buckets`` entries and one integer, so it stays the same
    size however many batches commit."""

    spark: SparkSession
    state_dir: str
    n_buckets: int = 16

    @property
    def _state_path(self) -> str:
        return os.path.join(self.state_dir, "state")

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.state_dir, "_manifest.json")

    def _version_path(self, version: int) -> str:
        return os.path.join(self._state_path, f"v={version}")

    def _load_manifest(self) -> tuple[int | None, dict[int, int]]:
        """The last committed batch id (None before the first commit) and
        the bucket → owning version map."""
        if not os.path.exists(self._manifest_path):
            return None, {}
        with open(self._manifest_path) as f:
            m = json.load(f)
        return m["batch"], {int(b): v for b, v in m["buckets"].items()}

    def _save_manifest(self, batch_id: int, owners: dict[int, int]) -> None:
        # state_dir does not exist yet when the first batch is empty; the
        # rename keeps the previous manifest whole if the dump dies midway
        os.makedirs(self.state_dir, exist_ok=True)
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            buckets = {str(b): v for b, v in sorted(owners.items())}
            json.dump({"batch": batch_id, "buckets": buckets}, f)
        os.replace(tmp, self._manifest_path)

    def _gc(self, owners: dict[int, int]) -> None:
        if not os.path.isdir(self._state_path):
            return
        live = {f"v={v}" for v in owners.values()}
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

    def _read(self, owners: dict[int, int], schema: T.StructType) -> DataFrame:
        """The rows of the given buckets, each from its owning version."""
        reader = self.spark.read.schema(schema)
        return reduce(
            DataFrame.unionByName,
            [
                reader.parquet(self._version_path(v)).filter(
                    F.col("bucket").isin([b for b, o in owners.items() if o == v])
                )
                for v in sorted(set(owners.values()))
            ],
        )

    def state(self) -> DataFrame | None:
        """The bucketed state table, or None while it holds no row."""
        if self._manifest_less():
            return self.spark.read.parquet(self._state_path)
        _, owners = self._load_manifest()
        if not owners:
            return None
        paths = sorted({self._version_path(v) for v in owners.values()})
        return self._read(owners, self.spark.read.parquet(*paths).schema)

    def _rows(self, batch: DataFrame) -> DataFrame:
        """The batch's own rows in the state schema, bucket included."""
        raise NotImplementedError

    def _fold(self, old: DataFrame, rows: DataFrame, batch: DataFrame) -> DataFrame:
        """The new content of the touched buckets, given their ``old`` rows."""
        raise NotImplementedError

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._manifest_less():
            raise ValueError(
                f"{self._state_path} holds bucket= dirs but no manifest;"
                " apply_batch would fold onto an empty state"
            )
        last, owners = self._load_manifest()
        if last is not None and batch_id <= last:
            return  # replayed epoch — idempotent no-op
        batch = self._bucket(batch_df.select(*STATE_COLS)).persist()
        try:
            touched = _observed_buckets(
                batch, lambda df: df.write.format("noop").mode("overwrite").save()
            )
            if touched:
                rows = self._rows(batch)
                prior = {b: v for b, v in owners.items() if b in touched}
                old = self._read(prior, rows.schema) if prior else rows.where(F.lit(False))
                version = self._version_path(batch_id)
                written = _observed_buckets(
                    self._fold(old, rows, batch),
                    lambda df: df.write.mode("overwrite").parquet(version),
                )
                owners = {b: v for b, v in owners.items() if b not in touched}
                owners.update((b, batch_id) for b in written)
            self._save_manifest(batch_id, owners)
        finally:
            batch.unpersist()
        self._gc(owners)


def _observed_buckets(df: DataFrame, write) -> set[int]:
    """Run ``write`` on ``df`` and return the buckets its rows carry,
    collected by ``observe`` on that same job."""
    seen = Observation()
    write(df.observe(seen, F.collect_set("bucket").alias("buckets")))
    return set(seen.get["buckets"])


class CdcParquetSink(_BucketedParquetSink):
    """foreachBatch sink keeping the LWW current-state table (SURVEY.md
    §3-C step 3) on the shared bucketed commit path. Plain parquet has no
    MERGE, so the fold is ``reconcile(old ∪ batch)`` over the touched
    buckets — one aggregate; the batch needs no reconcile of its own
    because reconcile is associative. LWW is idempotent per key, so a
    replayed or partially applied batch folds to the same state.
    ``tests/test_streaming.py::test_sink_rewrites_only_touched_buckets``
    pins that untouched buckets keep their owning version, whose files
    keep their paths and mtimes. (The StateStore
    form ``cdc_apply_stateful_stream`` above is the no-filesystem-round-trip
    alternative.)"""

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
    total order (SURVEY §1.1).

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
