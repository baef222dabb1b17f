"""File-replayed streams — the harness stand-in for a Kafka topic or a
MongoDB change-stream cursor.

``replay_events`` writes the static events table as N time-ordered parquet
chunks into a temp dir, then opens a readStream over it with
maxFilesPerTrigger=1: each micro-batch consumes one chunk, in oplog order,
exactly like tailing a change stream. Offsets + the checkpoint dir are
Spark's WAL — the resume-token equivalent (do not reimplement).
"""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongodb_mysql_cdc_spark.catalog import load

# Schema of the chunk files as the STREAM sees them (ts already truncated
# to micros by catalog.load, so declared as TimestampType).
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stage_event_chunks(
    spark: SparkSession, sf_dir: str, n_chunks: int = 8, dir_prefix: str = "replay"
) -> str:
    """Materialize events as n time-ordered chunk files; returns the dir."""
    out = tempfile.mkdtemp(prefix=f"sparkcdc_{dir_prefix}_")
    ev = load(spark, sf_dir, "events")
    # ntile over global ts order buckets rows into contiguous time ranges:
    # chunk i holds strictly earlier data than chunk i+1 (oplog order).
    # The UNPARTITIONED window (single-task sort) is deliberate and
    # harness-only: this helper fakes the totally-ordered oplog a real
    # deployment gets from Kafka/the change stream for free — it is replay
    # STAGING, never a production operator, and is the sole source of the
    # WindowExec no-partition warnings in the test logs.
    from pyspark.sql import Window

    w = Window.orderBy("ts", "event_id")
    # zero-padded string so the partition dirs keep the chunk=0001 naming
    # the duplicate-chunk CDC replays address by literal path
    chunked = ev.withColumn(
        "chunk", F.format_string("%04d", F.ntile(n_chunks).over(w))
    )
    # ONE partitionBy write, not n filtered writes: a per-chunk loop would
    # re-execute the global-order window once PER CHUNK (n write jobs,
    # each with the full single-task sort), and every streaming suite
    # query pays this staging. The replay order contract (FileStreamSource
    # processes oldest-modification-time first) is kept EXPLICITLY: the
    # loop below stamps strictly ascending mtimes in chunk order.
    # Heartbeat chunks are staged afterwards with natural (later)
    # wall-clock mtimes.
    (
        chunked.repartition(1)
        .write.mode("overwrite")
        .partitionBy("chunk")
        .parquet(out)
    )
    # Degenerate feeds (zero rows, or fewer rows than n_chunks — ntile
    # fills low buckets first) leave high chunk= dirs unwritten by the
    # partitionBy write, but consumers address every chunk=%04d by literal
    # path (sources/adapters.py snapshot(), the duplicate-chunk CDC
    # replays), so each must exist with a schema-bearing (possibly empty)
    # parquet file, which the single partitionBy write alone does not give.
    present = {e for e in os.listdir(out) if e.startswith("chunk=")}
    empty = None
    for i in range(1, n_chunks + 1):
        d = f"chunk={i:04d}"
        if d not in present:
            if empty is None:
                empty = spark.createDataFrame([], ev.schema)
            empty.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(out, d)
            )
    base = time.time() - 2 * n_chunks
    for i, d in enumerate(
        sorted(
            (e for e in os.listdir(out) if e.startswith("chunk=")),
            key=lambda e: e.split("=", 1)[1],
        )
    ):
        for f in os.listdir(os.path.join(out, d)):
            os.utime(os.path.join(out, d, f), (base + i, base + i))
    return out


GHOST_USER = 1_000_000_000  # matches no real user on any side


def stage_heartbeats(
    spark: SparkSession, staged_dir: str, sf_dir: str, *, n: int = 3,
    event_type: str = "signup"
) -> None:
    """Append far-future heartbeat chunks (the Debezium-heartbeat idiom) so
    watermarks provably pass every real event and append-mode tails flush
    inside data batches. THREE ascending beats because watermark
    application lags batches and the final no-data batch is unreliable
    (found empirically — see stream_stream_join_left's docstring). The
    ghost rows carry GHOST_USER; callers filter them from results. The
    event_type matters when per-type predicates get pushed below a
    watermark (the heartbeat must satisfy them to be observed)."""
    import datetime
    import os

    max_ts = load(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    if max_ts is None:
        # EMPTY feed: max(ts) of zero events is NULL, and None + timedelta
        # would crash every heartbeat-staged stream. An empty feed still needs heartbeats — they are what
        # advances the watermark so the query drains and the sinks commit
        # their (empty) results. Any fixed base works; the beats only need
        # to ascend.
        max_ts = datetime.datetime(2000, 1, 1)
    for i in range(n):
        hb_ts = max_ts + datetime.timedelta(hours=10 * (i + 1))
        hb = spark.createDataFrame(
            [(-1 - i, hb_ts, GHOST_USER, event_type, 0.0, "{}")],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        hb.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(staged_dir, f"chunk=999{i}")
        )


def read_event_stream(spark: SparkSession, staged_dir: str) -> DataFrame:
    """Open the staged dir as a file stream, one chunk per micro-batch."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(staged_dir)
    )


def run_to_completion(query) -> None:
    """Drain all staged input synchronously, then stop — the batch-like
    test harness for a streaming query."""
    try:
        query.processAllAvailable()
    finally:
        query.stop()


def drain_foreach_batch(stream: DataFrame, apply_batch, checkpoint: str) -> None:
    """Run a streaming DataFrame to completion through a foreachBatch
    writer (e.g. a parquet sink's ``apply_batch``), with its offsets
    checkpointed at ``checkpoint``."""
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    run_to_completion(q)


def memory_sink_table(df: DataFrame, name: str, output_mode: str) -> "tuple":
    """writeStream → in-memory table; returns (query, table_name)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"sparkcdc_ckpt_{name}_"))
        .start()
    )
    return q, name


def drain_to_memory_table(
    spark: SparkSession, df: DataFrame, prefix: str, output_mode: str, *, settle: bool = False
) -> DataFrame:
    """Run a streaming DataFrame to completion through a memory sink and
    return the materialized table — the shared harness for every suite
    query that replays a finite stream. ``settle=True`` drains once more
    after a pause, for sinks whose final emissions ride a trailing batch
    (outer-join eviction)."""
    import time
    import uuid

    # Harness-only knob: every stateful streaming operator keeps one state
    # store PER shuffle partition PER micro-batch (a stream-stream join
    # keeps four), so the session's 32 partitions mean ~128 state-store
    # round-trips per batch over kilobytes of data — pure fixed cost at
    # replay scale (measured on stream_stream_join_left: 51 s at 32
    # partitions → ~36 s at 8 → ~24 s at 4; at sf0.01:
    # stream_session 22.3 s at 4 → 17.7 s at 2 → 16.8 s at 1, hashes
    # identical at every count — 2 keeps the multi-partition state path
    # exercised while shedding most of the remaining store overhead).
    # The partition count is captured in the fresh checkpoint at
    # .start(), so restoring the conf afterwards is safe. A production
    # deployment sizes this to the cluster, not to the replay.
    #
    # THREAD-SAFETY: the override is session-global while held — a query
    # planned concurrently on the same session would pick up 2 partitions.
    # Every caller (suite replay queries, the CLI pipeline) is
    # single-threaded per session; Spark offers no per-stream conf for
    # shuffle.partitions short of spark.cloneSession(), which would forfeit
    # the shared temp-view namespace the memory sink needs.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q, name = memory_sink_table(df, f"{prefix}_{uuid.uuid4().hex[:8]}", output_mode)
        try:
            q.processAllAvailable()
            if settle:
                time.sleep(1)
                q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)
