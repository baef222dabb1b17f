"""Envelope-source adapters — the seam between "where change events come
from" and everything downstream (reconcile/apply/sinks), so the harness's
synthetic parquet replay is a pluggable choice rather than a hardwire
(SURVEY §1.1/§3-B).

An ``EnvelopeSource`` yields the normalized Debezium-style envelope
(``sources.cdc.ENVELOPE_SCHEMA``) two ways:

- ``snapshot()``  — a BATCH DataFrame: the consistent initial state
  (entry point A);
- ``stream()``    — a STREAMING DataFrame: the ordered change feed
  (entry point B). Offsets/resume tokens are the stream's checkpoint
  concern, not the adapter's.

``ParquetReplaySource`` is the harness implementation (time-ordered chunk
replay over the events table). ``MongoChangeStreamSource`` documents the
real-deployment mapping and fails loudly: the MongoDB Spark connector is
not in this container, and shipping a pretend implementation would be
worse than an explicit seam.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession

from mongodb_mysql_cdc_spark.sources.cdc import envelopes_from_events


@runtime_checkable
class EnvelopeSource(Protocol):
    """Anything that can produce the normalized CDC envelope."""

    def snapshot(self) -> DataFrame: ...  # batch: initial consistent state

    def stream(self) -> DataFrame: ...  # streaming: the change feed


@dataclass
class ParquetReplaySource:
    """Harness source: the ``events`` table replayed as a time-ordered
    file stream (one chunk per micro-batch — the oplog stand-in).

    ``snapshot()`` returns the first ``snapshot_chunks`` chunks as one
    batch; ``stream()`` replays ALL chunks from offset zero — the overlap
    with the snapshot is intentional and harmless (LWW idempotence + the
    sink's batch-id guard), mirroring a resume-token restart."""

    spark: SparkSession
    source_dir: str
    n_chunks: int = 4
    snapshot_chunks: int = 1
    dir_prefix: str = "replica"
    _staged: str | None = field(default=None, init=False)

    def __post_init__(self) -> None:
        if not 1 <= self.snapshot_chunks <= self.n_chunks:
            raise ValueError(
                f"snapshot_chunks={self.snapshot_chunks} must be in"
                f" 1..n_chunks={self.n_chunks}"
            )

    def _stage(self) -> str:
        from mongodb_mysql_cdc_spark.streaming.replay import stage_event_chunks

        if self._staged is None:
            self._staged = stage_event_chunks(
                self.spark, self.source_dir, n_chunks=self.n_chunks,
                dir_prefix=self.dir_prefix,
            )
        return self._staged

    def snapshot(self) -> DataFrame:
        staged = self._stage()
        parts = [
            os.path.join(staged, f"chunk={i:04d}")
            for i in range(1, self.snapshot_chunks + 1)
        ]
        return envelopes_from_events(self.spark.read.parquet(*parts))

    def stream(self) -> DataFrame:
        from mongodb_mysql_cdc_spark.streaming.replay import read_event_stream

        return envelopes_from_events(read_event_stream(self.spark, self._stage()))


@dataclass
class MongoChangeStreamSource:
    """The production adapter shape: MongoDB → envelope via the official
    Spark connector. Not runnable here (connector jar + server absent);
    the docstrings carry the exact wiring so a deployment fills in two
    methods without touching anything downstream.

    snapshot(): ``spark.read.format("mongodb").option("connection.uri",
    uri).option("database", db).option("collection", coll).load()``
    projected into ENVELOPE_SCHEMA with op='r' (Debezium snapshot reads).

    stream(): ``spark.readStream.format("mongodb")`` with
    ``change.stream.publish.full.document.only=false``, then project
    ``operationType``→op (insert→c/update|replace→u/delete→d),
    ``clusterTime``→ts, ``_id`` (resume token order)→seq,
    ``documentKey._id``→key, ``fullDocument``→after.
    """

    spark: SparkSession
    uri: str
    database: str
    collection: str

    def _unavailable(self) -> RuntimeError:
        return RuntimeError(
            "MongoChangeStreamSource needs the mongo-spark-connector jar and "
            "a reachable MongoDB; this harness has neither. Use "
            "ParquetReplaySource, or deploy with "
            "--packages org.mongodb.spark:mongo-spark-connector_2.13"
        )

    def snapshot(self) -> DataFrame:
        raise self._unavailable()

    def stream(self) -> DataFrame:
        raise self._unavailable()
