"""End-to-end replication pipeline — the user-facing composition of the
three SURVEY §3 entry points (A: snapshot, B: change-stream tail,
C: apply), i.e. what the reference exposes as its CLI: "replicate this
MongoDB database into MySQL, then keep it in sync".

    pipe = ReplicationPipeline(spark, source_dir="/data/sf0.01",
                               sink_dir="/tmp/replica")
    state = pipe.run()          # snapshot + tail-to-current, returns the
                                # queryable current-state table
    pipe.status()               # last committed batch, state rows

Harness mapping: the ``events`` table is the designated stream table; its
time-ordered replay stands in for the oplog/change-stream cursor, and the
partitioned-parquet ``CdcParquetSink`` stands in for MySQL (SURVEY §1.2).
Everything here reuses the checked suite operators — the pipeline is
composition, not new semantics; ``tests/test_replication.py`` pins
pipeline-end-state == ``cdc_apply_batch`` over the full event history
(snapshot/tail factoring must be invisible — reconcile is associative).

100 TB: the snapshot phase is one batch write of the snapshot envelopes,
unfolded, into one version dir with a key-bucket column (the first delta
of every bucket); the tail phase is Structured Streaming with
checkpointed offsets (restart = resume, §2.9), each micro-batch appended
the same way and folded per key only when a bucket is compacted or the
state is read.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from mongodb_mysql_cdc_spark.sources.adapters import EnvelopeSource, ParquetReplaySource
from mongodb_mysql_cdc_spark.streaming.apply import CdcParquetSink
from mongodb_mysql_cdc_spark.streaming.replay import drain_foreach_batch


@dataclass
class ReplicationPipeline:
    """Snapshot + tail one envelope source into a keyed sink state.

    The source is any ``EnvelopeSource`` (sources/adapters.py): pass
    ``source_dir`` for the harness parquet replay, or ``source=`` with a
    deployment adapter (e.g. MongoChangeStreamSource) — everything from
    reconcile down is source-agnostic."""

    spark: SparkSession
    source_dir: str | None = None
    sink_dir: str = field(default_factory=lambda: tempfile.mkdtemp(prefix="sparkcdc_replica_"))
    n_chunks: int = 4
    snapshot_chunks: int = 1  # chunks folded into the initial bulk load
    source: EnvelopeSource | None = None

    def __post_init__(self) -> None:
        if self.source is None:
            if self.source_dir is None:
                raise ValueError("pass source_dir (parquet replay) or source=")
            self.source = ParquetReplaySource(
                self.spark, self.source_dir,
                n_chunks=self.n_chunks, snapshot_chunks=self.snapshot_chunks,
            )
        self._sink = CdcParquetSink(self.spark, self.sink_dir)

    # -- entry point A: initial snapshot -----------------------------------
    def snapshot(self) -> "ReplicationPipeline":
        """Bulk-load the consistent starting state: the source's snapshot
        envelopes applied as ONE batch (batch id -1, guarded like any
        other epoch)."""
        self._sink.apply_batch(self.source.snapshot(), batch_id=-1)
        return self

    # -- entry point B+C: change-stream tail + apply ------------------------
    def tail(self) -> "ReplicationPipeline":
        """Open the source's change feed (offsets checkpointed) and fold
        each micro-batch into the sink idempotently."""
        # Events already folded by the snapshot may be re-delivered by a
        # stream starting from offset zero — the batch-id guard plus LWW
        # idempotence make the overlap harmless (same replay argument as
        # a resume-token restart). apply_batch is looked up here, at call
        # time, so an instance attribute set on the sink takes its place.
        drain_foreach_batch(
            self.source.stream(),
            self._sink.apply_batch,
            os.path.join(self.sink_dir, "_checkpoint"),
        )
        return self

    def run(self) -> DataFrame:
        """snapshot → tail → current queryable state."""
        return self.snapshot().tail().current()

    # -- observability ------------------------------------------------------
    def current(self) -> DataFrame:
        return self._sink.current()

    def status(self) -> dict:
        state = self._sink.state()
        return {
            "sink_dir": self.sink_dir,
            # the sink manifest's last committed batch id: -1 is the
            # snapshot epoch, None before anything is committed
            "last_batch": self._sink._load_manifest()[0],
            "state_rows": 0 if state is None else state.count(),
            "live_rows": 0 if state is None else self.current().count(),
        }

def expected_state(spark: SparkSession, source_dir: str) -> DataFrame:
    """The batch ground truth the pipeline must converge to: LWW fold of
    the ENTIRE event history (tombstones filtered) — used by tests and the
    CLI's --verify flag."""
    from mongodb_mysql_cdc_spark.streaming.apply import cdc_apply_batch
    from mongodb_mysql_cdc_spark.sources.cdc import events_as_envelopes

    return cdc_apply_batch(events_as_envelopes(spark, source_dir))
