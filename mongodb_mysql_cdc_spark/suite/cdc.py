"""§2.1 CDC sources/sinks + §2.9 the CDC heart — envelope parse, snapshot,
upsert, and the flagship cdc_apply in BOTH batch and live-streaming form.

The streaming entries run a real Structured Streaming query (file-replayed
chunks, one per micro-batch) synchronously to completion inside the query
function and return the final state as a batch DataFrame — so the driver's
DuckDB oracle checks REAL streaming output, not a batch stand-in.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.functions.compat import dec_avg, hround, sql_dec_avg, sql_round
from mongodb_mysql_cdc_spark.registry import register
from mongodb_mysql_cdc_spark.replication import ReplicationPipeline
from mongodb_mysql_cdc_spark.sources.adapters import ParquetReplaySource
from mongodb_mysql_cdc_spark.sources.cdc import (
    _JSON_OPTS,
    ENVELOPE_SCHEMA,
    envelopes_as_json,
    envelopes_from_events,
    events_as_envelopes,
    op_for_event_type,
    parse_envelope_json,
)
from mongodb_mysql_cdc_spark.streaming.apply import (
    Scd2ParquetSink,
    cdc_apply_batch,
    current_state,
    merge_states,
    reconcile,
)
from mongodb_mysql_cdc_spark.streaming.replay import (
    drain_foreach_batch,
    drain_to_memory_table,
    read_event_stream,
    stage_event_chunks,
)

# The events→envelope op mapping, as SQL (must mirror sources/cdc.py).
_OP_SQL = (
    "CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END"
)

CDC_APPLY_ORACLE = f"""
WITH env AS (
  SELECT user_id AS key, ts, event_id AS seq, {_OP_SQL} AS op,
         event_type, value, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts DESC, seq DESC) AS rn
    FROM env
  ) WHERE rn = 1
)
SELECT key, ts AS last_ts, event_type AS last_event_type,
       value AS last_value, k AS last_k
FROM latest
WHERE op <> 'd'
"""


@register(
    "cdc_envelope_parse",
    oracle=f"""
SELECT event_id AS seq,
       {_OP_SQL} AS op,
       user_id AS key,
       ts,
       event_type AS after_event_type,
       value AS after_value,
       CAST(json_extract(props, '$.k') AS BIGINT) AS after_k,
       'appdb' AS src_db,
       'events' AS src_table
FROM events
""",
)
def cdc_envelope_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full serialization round trip: typed envelope → JSON wire form →
    from_json(declared schema) → flattened relational row. The oracle
    computes the mapping directly, so the check proves the round trip is
    the identity."""
    env = events_as_envelopes(spark, sf_dir)
    parsed = parse_envelope_json(envelopes_as_json(env))
    return parsed.select(
        F.col("seq"),
        F.col("op"),
        F.col("key"),
        F.col("ts"),
        F.col("after.event_type").alias("after_event_type"),
        F.col("after.value").alias("after_value"),
        F.col("after.k").alias("after_k"),
        F.col("source.db").alias("src_db"),
        F.col("source.table").alias("src_table"),
    )


@register(
    "filter_op_type",
    oracle=f"""
SELECT op, count(*) AS n, count(DISTINCT key) AS n_keys
FROM (SELECT {_OP_SQL} AS op, user_id AS key FROM events)
WHERE op IN ('c', 'd')
GROUP BY op
""",
)
def filter_op_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply loop's operationType branch: keep only creates/deletes."""
    env = events_as_envelopes(spark, sf_dir)
    return (
        env.filter(F.col("op").isin("c", "d"))
        .groupBy("op")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("key").alias("n_keys"))
    )


@register("snapshot_load", oracle="SELECT * FROM customer")
def snapshot_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC phase 1: full source scan bulk-loaded into a sink table, then
    read back — proves the write→read path preserves every row/type."""
    out = os.path.join(tempfile.mkdtemp(prefix="sparkcdc_snap_"), "customer")
    load(spark, sf_dir, "customer").write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@register(
    "sink_upsert",
    oracle="""
WITH delta AS (
  SELECT o_custkey AS c_custkey,
         max(o_totalprice) AS best_order
  FROM orders GROUP BY o_custkey
)
SELECT c.c_custkey,
       c.c_name,
       CASE WHEN d.c_custkey IS NOT NULL THEN d.best_order ELSE c.c_acctbal END AS c_acctbal,
       (d.c_custkey IS NOT NULL) AS was_updated
FROM customer c LEFT JOIN delta d ON c.c_custkey = d.c_custkey
""",
)
def sink_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert (INSERT … ON DUPLICATE KEY UPDATE): reconcile a delta
    against base state by PK — matched rows take the delta image, others
    keep the base image."""
    base = load(spark, sf_dir, "customer")
    delta = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.max("o_totalprice").alias("best_order"))
    )
    joined = base.join(delta, "c_custkey", "left")
    return joined.select(
        "c_custkey",
        "c_name",
        F.when(delta.best_order.isNotNull(), delta.best_order)
        .otherwise(base.c_acctbal)
        .alias("c_acctbal"),
        delta.best_order.isNotNull().alias("was_updated"),
    )


@register(
    "dedup_state",
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resume-token replay semantics: a batch re-delivered events (every
    3rd event duplicated here) collapses back to the original stream via
    dropDuplicates on the event id."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    replayed = ev.unionByName(ev.filter(F.col("event_id") % 3 == 0))
    return replayed.dropDuplicates(["event_id"])


@register("cdc_apply_batch", oracle=CDC_APPLY_ORACLE)
def cdc_apply_batch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship op, batch form: fold the full envelope bag into the
    current-state table (LWW upsert + tombstone drop) — one shuffle.

    r13 (guide §8: decide on small rows, do heavy per-row work once): the
    ``after.k`` JSON extraction used to run on EVERY input event because
    the parsed struct rode through the LWW aggregate — measured 0.27 s of
    the query's 0.46 s at sf0.1 (noop sink), and at 100 TB it is a JSON
    parse per oplog event instead of per surviving key. The envelope here
    carries the RAW ``props`` string through ``reconcile`` (max_by orders
    only by (ts, seq), never by the payload, so the same winner row is
    picked) and parses ``$.k`` after the tombstone filter — on one row
    per live key. Hash-verified identical to the parse-early plan; the
    shared streaming form (sink machinery, full envelope schema) is
    unchanged."""
    ev = load(spark, sf_dir, "events")
    env_raw = ev.select(
        op_for_event_type().alias("op"),
        F.col("ts"),
        F.col("event_id").alias("seq"),
        F.col("user_id").alias("key"),
        F.struct("user_id", "event_type", "value", "props").alias("after"),
    )
    st = reconcile(env_raw)
    return st.filter(F.col("op") != "d").select(
        F.col("key"),
        F.col("ts").alias("last_ts"),
        F.col("after.event_type").alias("last_event_type"),
        F.col("after.value").alias("last_value"),
        F.get_json_object(F.col("after.props"), "$.k").cast("long").alias("last_k"),
    )


@register("cdc_apply_stream", oracle=CDC_APPLY_ORACLE)
def cdc_apply_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship op, LIVE streaming form: the replication pipeline's
    own tail — events replayed as 6 time-ordered micro-batches through
    foreachBatch + the idempotent parquet sink — then the final state.
    Same oracle as the batch form — micro-batch folding must be invisible
    (reconcile is associative)."""
    return ReplicationPipeline(spark, sf_dir, n_chunks=6).tail().current()


@register("cdc_apply_stateful", oracle=CDC_APPLY_ORACLE)
def cdc_apply_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship op, applyInPandasWithState form (§2.9's at-scale state
    path): per-key LWW images live in the Spark StateStore — executor-local,
    versioned, incrementally checkpointed — instead of round-tripping a
    parquet state table per micro-batch (contrast cdc_apply_stream). The
    update-mode emissions are folded to the final image per key; same
    oracle as both other forms — three implementations, one semantics."""
    from mongodb_mysql_cdc_spark.streaming.apply import cdc_apply_stateful_stream

    staged = stage_event_chunks(spark, sf_dir, n_chunks=4, dir_prefix="stateful")
    updates = cdc_apply_stateful_stream(
        envelopes_from_events(read_event_stream(spark, staged))
    )
    emissions = drain_to_memory_table(spark, updates, "stateful", "update")
    # final image per key = the LWW fold of the key's emissions; repeated
    # emissions of one image are identical rows, so any pick is the same
    return current_state(
        reconcile(
            emissions.select(
                "key", "op", "ts", "seq",
                F.struct("event_type", "value", "k").alias("after"),
            )
        )
    )


@register(
    "stream_source",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1 stream_source: open the replayed change feed as a genuine
    readStream (schema declared, one chunk per micro-batch) and drain it
    through an append sink — the stream must deliver exactly the batch
    table's rows (file-source replay fidelity)."""
    staged = stage_event_chunks(spark, sf_dir, n_chunks=4, dir_prefix="src")
    return drain_to_memory_table(spark, read_event_stream(spark, staged), "src", "append")


@register(
    "stream_dedup",
    oracle="SELECT event_id, user_id, event_type, ts FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live streaming dropDuplicates with a watermark: the replay stages one
    duplicated chunk (redelivery), the stream emits each event exactly once."""
    staged = stage_event_chunks(spark, sf_dir, n_chunks=4, dir_prefix="dedup")
    # Redeliver chunk 2 verbatim — the resume-token replay failure mode.
    dup_src = os.path.join(staged, "chunk=0002")
    spark.read.parquet(dup_src).write.mode("overwrite").parquet(
        os.path.join(staged, "chunk=0005")
    )
    stream = read_event_stream(spark, staged)
    deduped = (
        stream.withWatermark("ts", "10 days")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type", "ts")
    )
    return drain_to_memory_table(spark, deduped, "dedup", "append")


@register(
    "stream_tumbling",
    oracle="""
SELECT date_trunc('hour', ts) AS win_start,
       event_type,
       count(*) AS n
FROM events
GROUP BY 1, 2
""",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live streaming tumbling-window counts (complete mode) — the oracle
    is the batch date_trunc equivalent (stream/batch parity)."""
    from mongodb_mysql_cdc_spark.streaming.windows import tumbling_counts, with_watermark

    staged = stage_event_chunks(spark, sf_dir, n_chunks=4, dir_prefix="tumble")
    stream = with_watermark(read_event_stream(spark, staged), "1 hour")
    agg = tumbling_counts(stream).select("win_start", "event_type", "n")
    return drain_to_memory_table(spark, agg, "tumble", "complete")


@register(
    "stream_dedup_watermarked",
    oracle="SELECT event_id, user_id, event_type, ts FROM events",
)
def stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live dropDuplicatesWithinWatermark (§2.9 dedup_state, the
    bounded-state form): unlike plain dropDuplicates — whose key state
    grows for the stream's lifetime — this evicts each key's dedup state
    once the watermark passes its event time + delay, so state is
    O(events per watermark window) forever. That eviction is the ONLY
    100 TB-viable shape for at-least-once redelivery dedup (resume-token
    replays arrive within seconds, not days). Redelivery is simulated by
    staging one chunk twice; duplicates land well inside the delay, so
    the emitted stream equals the exact-once oracle."""
    staged = stage_event_chunks(spark, sf_dir, n_chunks=4, dir_prefix="dedupw")
    dup_src = os.path.join(staged, "chunk=0002")
    spark.read.parquet(dup_src).write.mode("overwrite").parquet(
        os.path.join(staged, "chunk=0005")
    )
    stream = read_event_stream(spark, staged)
    deduped = (
        stream.withWatermark("ts", "10 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "ts")
    )
    return drain_to_memory_table(spark, deduped, "dedupw", "append")


@register(
    "cdc_schema_evolution",
    oracle="""
SELECT event_id AS seq,
       user_id AS key,
       ts,
       event_type AS after_event_type,
       CASE WHEN ts >= (SELECT max(ts) FROM events) - INTERVAL 2 DAY
            THEN 'ch_' || CAST(user_id % 3 AS VARCHAR) END AS channel,
       (ts >= (SELECT max(ts) FROM events) - INTERVAL 2 DAY) AS is_evolved
FROM events
""",
)
def cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-stream producer schema evolution through the dynamic→fixed
    bridge (SURVEY §1.3): the source starts emitting a NEW document field
    (`channel`) partway through the stream (last 2 days here). The wire
    form is JSON either way; the consumer parses with the EVOLVED declared
    schema and old events surface the field as NULL — no reprocessing, no
    branching in the parse path. (The inverse direction is free too:
    from_json silently ignores fields the declared schema lacks, so an
    old consumer keeps working against the new producer.) The cutoff is a
    broadcast scalar, never collected.

    NULL shape (round-9 NULL-fixture catches): (a) the oracle derives
    channel with null-PROPAGATING ``||`` — an unknown user has an
    unknown channel; DuckDB's concat() would skip the NULL and emit a
    bare 'ch_' while Spark's concat nulls out. (b) is_evolved is the
    CUTOFF predicate (the oracle's definition), not channel IS NOT NULL
    — a late event with a NULL user carries a NULL channel value (and
    to_json's default ignoreNullFields even drops the key from the wire
    form), so field-presence is not evidence of schema vintage."""
    from mongodb_mysql_cdc_spark.sources.cdc import _JSON_OPTS

    ev = load(spark, sf_dir, "events")
    horizon = ev.agg((F.max("ts") - F.expr("INTERVAL 2 DAYS")).alias("_cut"))
    tagged = ev.crossJoin(F.broadcast(horizon))
    channel = F.concat(F.lit("ch_"), (F.col("user_id") % 3).cast("string"))
    # Wire form: late events carry the new field, early ones genuinely
    # lack it (two JSON shapes, exactly like a rolling producer deploy).
    # _JSON_OPTS keeps the oplog timestamp at full microsecond precision
    # through the roundtrip (default to_json truncates to millis).
    early = tagged.filter(F.col("ts") < F.col("_cut")).select(
        F.to_json(
            F.struct("event_id", "ts", "user_id", "event_type"), _JSON_OPTS
        ).alias("raw")
    )
    late = tagged.filter(F.col("ts") >= F.col("_cut")).select(
        F.to_json(
            F.struct("event_id", "ts", "user_id", "event_type", channel.alias("channel")),
            _JSON_OPTS,
        ).alias("raw")
    )
    evolved_schema = (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type STRING, channel STRING"
    )
    parsed = early.unionByName(late).select(
        F.from_json("raw", evolved_schema, _JSON_OPTS).alias("v")
    )
    return parsed.crossJoin(F.broadcast(horizon)).select(
        F.col("v.event_id").alias("seq"),
        F.col("v.user_id").alias("key"),
        F.col("v.ts").alias("ts"),
        F.col("v.event_type").alias("after_event_type"),
        F.col("v.channel").alias("channel"),
        (F.col("v.ts") >= F.col("_cut")).alias("is_evolved"),
    )


@register(
    "cdc_route_tables",
    oracle=f"""
WITH env AS (
  SELECT 'events' AS dst_table, user_id AS key, ts, event_id AS seq,
         {_OP_SQL} AS op, value
  FROM events
  UNION ALL
  SELECT 'orders' AS dst_table, o_custkey AS key, o_orderdate AS ts,
         o_orderkey AS seq,
         CASE WHEN o_orderstatus = 'F' THEN 'u' ELSE 'c' END AS op,
         o_totalprice AS value
  FROM orders
)
SELECT dst_table, op, count(*) AS n, count(DISTINCT key) AS n_keys,
       max(ts) AS last_ts
FROM env
GROUP BY dst_table, op
""",
)
def cdc_route_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-collection routing (§0: db.watch() tails a whole DATABASE —
    one envelope stream carries many collections, demultiplexed to one
    sink table each by ns/source.table). Two synthetic collections
    (events + orders mapped to envelopes) union into one feed; the
    router groups by destination. In the live path this is
    ``foreachBatch`` + ``df.filter(col("source.table") == t)`` per
    registered sink — partitionBy(dst_table) on write makes the demux a
    free partition split rather than N scans. The checked output is the
    per-table/op routing census."""
    ev = load(spark, sf_dir, "events")
    env_events = ev.select(
        F.lit("events").alias("dst_table"),
        F.col("user_id").alias("key"),
        F.col("ts"),
        F.col("event_id").alias("seq"),
        op_for_event_type().alias("op"),
        F.col("value"),
    )
    o = load(spark, sf_dir, "orders")
    env_orders = o.select(
        F.lit("orders").alias("dst_table"),
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderstatus") == "F", "u").otherwise("c").alias("op"),
        F.col("o_totalprice").alias("value"),
    )
    feed = env_events.unionByName(env_orders)
    return feed.groupBy("dst_table", "op").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("key").alias("n_keys"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "cdc_apply_soft_delete",
    oracle=f"""
WITH env AS (
  SELECT user_id AS key, ts, event_id AS seq, {_OP_SQL} AS op,
         event_type, value
  FROM events
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts DESC, seq DESC) AS rn
    FROM env
  ) WHERE rn = 1
)
SELECT key, ts AS last_ts, event_type AS last_event_type,
       value AS last_value, (op = 'd') AS is_deleted
FROM latest
""",
)
def cdc_apply_soft_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-delete apply mode: the LWW fold keeps tombstoned keys as
    flagged rows instead of dropping them (the warehouse-friendly mode —
    auditable deletes, GDPR erasure as a later compaction). The same
    ``reconcile`` fold as cdc_apply_batch; only the final projection
    differs, so both modes share one physical plan shape. The fold carries
    only the projected payload fields, so ``props`` is never parsed."""
    env = events_as_envelopes(spark, sf_dir)
    return reconcile(
        env.withColumn("after", F.struct("after.event_type", "after.value"))
    ).select(
        "key",
        F.col("ts").alias("last_ts"),
        F.col("after.event_type").alias("last_event_type"),
        F.col("after.value").alias("last_value"),
        (F.col("op") == "d").alias("is_deleted"),
    )


@register(
    "cdc_state_asof",
    oracle=f"""
WITH cut AS (SELECT max(ts) - INTERVAL 3 DAY AS cutoff FROM events),
env AS (
  SELECT user_id AS key, ts, event_id AS seq, {_OP_SQL} AS op,
         event_type, value
  FROM events, cut
  WHERE ts <= cut.cutoff
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts DESC, seq DESC) AS rn
    FROM env
  ) WHERE rn = 1
)
SELECT key, ts AS last_ts, event_type AS last_event_type,
       value AS last_value
FROM latest
WHERE op <> 'd'
""",
)
def cdc_state_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time state (time travel): the LWW fold restricted to
    events at or before a cutoff — what the replica looked like then.
    With the SCD2 history table this is an interval predicate; computed
    here directly from the envelope log (the PITR path when only the log
    survives). The cutoff (max ts − 3 days) is a broadcast scalar. Same
    single key-shuffle as cdc_apply_batch — as-of reads cost no more
    than current reads."""
    env = events_as_envelopes(spark, sf_dir)
    cut = env.agg((F.max("ts") - F.expr("INTERVAL 3 DAYS")).alias("_cutoff"))
    upto = env.crossJoin(F.broadcast(cut)).filter(F.col("ts") <= F.col("_cutoff"))
    # the fold carries only the projected payload fields (no props parse)
    latest = reconcile(
        upto.withColumn("after", F.struct("after.event_type", "after.value"))
    )
    return latest.filter(F.col("op") != "d").select(
        "key",
        F.col("ts").alias("last_ts"),
        F.col("after.event_type").alias("last_event_type"),
        F.col("after.value").alias("last_value"),
    )


@register(
    "cdc_before_after_diff",
    oracle=f"""
WITH env AS (
  SELECT user_id AS key, ts, event_id AS seq, {_OP_SQL} AS op,
         event_type, value
  FROM events
),
imaged AS (
  SELECT key, ts, seq, op, event_type, value,
         lag(event_type) OVER w AS before_event_type,
         lag(value) OVER w AS before_value
  FROM env
  WINDOW w AS (PARTITION BY key ORDER BY ts, seq)
)
SELECT key, seq, op,
       before_event_type, event_type AS after_event_type,
       before_value, value AS after_value,
       concat_ws(',',
         CASE WHEN before_event_type IS DISTINCT FROM event_type THEN 'event_type' END,
         CASE WHEN before_value IS DISTINCT FROM value THEN 'value' END
       ) AS changed_fields
FROM imaged
WHERE op = 'u' AND before_event_type IS NOT NULL
""",
)
def cdc_before_after_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Before/after image diff (the Debezium ``updateDescription`` /
    MongoDB pre-image semantic): each update envelope is paired with the
    key's previous image (lag over the oplog order) and the changed-field
    list is computed with null-safe comparisons — what a consumer uses to
    build partial UPDATE statements instead of full-row REPLACEs. One
    window on the same key partitioning as every apply path; at 100 TB
    the before-image rides the envelope (change stream pre-images) and
    this becomes a pure projection."""
    env = events_as_envelopes(spark, sf_dir)
    w = Window.partitionBy("key").orderBy("ts", "seq")
    imaged = env.select(
        "key", "ts", "seq", "op",
        F.col("after.event_type").alias("after_event_type"),
        F.col("after.value").alias("after_value"),
    ).select(
        "*",
        F.lag("after_event_type").over(w).alias("before_event_type"),
        F.lag("after_value").over(w).alias("before_value"),
    )
    changed = F.concat_ws(
        ",",
        F.when(
            ~F.col("before_event_type").eqNullSafe(F.col("after_event_type")),
            "event_type",
        ),
        F.when(~F.col("before_value").eqNullSafe(F.col("after_value")), "value"),
    )
    return (
        imaged.filter((F.col("op") == "u") & F.col("before_event_type").isNotNull())
        .select(
            "key", "seq", "op",
            "before_event_type", "after_event_type",
            "before_value", "after_value",
            changed.alias("changed_fields"),
        )
    )


@register(
    "cdc_dead_letter",
    oracle=f"""
SELECT event_id AS offset,
       CASE WHEN event_id % 97 = 0 THEN 'dead' ELSE 'ok' END AS status,
       CASE WHEN event_id % 97 = 0 THEN NULL ELSE user_id END AS key,
       CASE WHEN event_id % 97 = 0 THEN NULL ELSE {_OP_SQL} END AS op
FROM events
""",
)
def cdc_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing — the malformed-payload path every real CDC
    ingest needs: envelopes arrive as JSON with their transport offset
    (the Kafka offset / resume token) as metadata; payloads that fail
    from_json go to the DLQ WITH their offset so they can be replayed
    after a fix, instead of poisoning the stream.

    Corruption is synthesized deterministically (every 97th offset gets a
    mangled payload) so the oracle can derive the routing from the events
    table directly. "Failed to parse" is detected as the all-null
    mandatory-field struct — from_json's PERMISSIVE contract — which no
    genuine envelope can produce (op/ts/key are never all null)."""
    env = events_as_envelopes(spark, sf_dir)
    # offset rides beside the serialized payload, like Kafka metadata
    wire = env.select(
        F.col("seq").alias("offset"),
        F.to_json(F.struct(*env.columns), _JSON_OPTS).alias("raw"),
    )
    corrupted = wire.select(
        "offset",
        F.when(
            F.col("offset") % 97 == 0, F.concat(F.lit("CORRUPT"), F.col("raw"))
        )
        .otherwise(F.col("raw"))
        .alias("raw"),
    )
    parsed = corrupted.select("offset", F.from_json("raw", ENVELOPE_SCHEMA, _JSON_OPTS).alias("v"))
    dead = (
        F.col("v").isNull()
        | (F.col("v.op").isNull() & F.col("v.ts").isNull() & F.col("v.key").isNull())
    )
    return parsed.select(
        "offset",
        F.when(dead, "dead").otherwise("ok").alias("status"),
        F.when(~dead, F.col("v.key")).alias("key"),
        F.when(~dead, F.col("v.op")).alias("op"),
    )


@register(
    "cdc_tombstone_gc",
    oracle=f"""
WITH env AS (
  SELECT user_id AS key, ts, event_id AS seq, {_OP_SQL} AS op,
         event_type, value
  FROM events
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts DESC, seq DESC) AS rn
    FROM env
  ) WHERE rn = 1
),
horizon AS (SELECT max(ts) - INTERVAL 7 DAY AS h FROM events)
SELECT key, op, ts, seq,
       event_type AS after_event_type, value AS after_value
FROM latest CROSS JOIN horizon
WHERE op <> 'd' OR ts >= h
""",
)
def cdc_tombstone_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone garbage collection — the state-table maintenance op the
    flagship's retention rule requires: a delete marker must be KEPT until
    no event older than it can still arrive (here: a 7-day horizon behind
    max event time, the watermark stand-in), then compacts away on
    rewrite. Dropping it earlier would let a late, older update resurrect
    the deleted key; keeping it forever makes state grow with deletes
    instead of live keys. Live rows are never GC'd. The horizon is a
    1-row broadcast (scalar aggregate crossJoin) — zero extra shuffle on
    the state side."""
    env = envelopes_from_events(load(spark, sf_dir, "events"))
    state = reconcile(env)
    horizon = env.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("h")
    )
    return (
        state.crossJoin(F.broadcast(horizon))
        .filter((F.col("op") != "d") | (F.col("ts") >= F.col("h")))
        .select(
            "key", "op", "ts", "seq",
            F.col("after.event_type").alias("after_event_type"),
            F.col("after.value").alias("after_value"),
        )
    )


@register(
    "cdc_merge_replicas",
    oracle=f"""
WITH env AS (
  SELECT user_id AS key, ts, event_id AS seq, {_OP_SQL} AS op,
         event_type, value, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
),
deliveries AS (
  SELECT *, 'A' AS replica FROM env WHERE seq % 3 <> 0
  UNION ALL
  SELECT *, 'B' AS replica FROM env WHERE seq % 3 <> 1
),
folded AS (
  SELECT key,
         count(*)                  AS n_deliveries,
         count(DISTINCT replica)   AS n_replicas,
         max(CASE WHEN rn = 1 THEN op END)         AS op,
         max(CASE WHEN rn = 1 THEN ts END)         AS last_ts,
         max(CASE WHEN rn = 1 THEN event_type END) AS last_event_type,
         max(CASE WHEN rn = 1 THEN value END)      AS last_value,
         max(CASE WHEN rn = 1 THEN k END)          AS last_k
  FROM (SELECT *, row_number() OVER (PARTITION BY key
                                     ORDER BY ts DESC, seq DESC, replica) AS rn
        FROM deliveries)
  GROUP BY key
)
SELECT key, n_deliveries, n_replicas, last_ts, last_event_type, last_value, last_k
FROM folded WHERE op <> 'd'
""",
)
def cdc_merge_replicas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-replica conflict resolution: two replicas each delivered an
    overlapping slice of the change feed (at-least-once across the pair —
    seq%3 partitions with one shared residue class). Union the deliveries
    and LWW-fold on (ts, seq): duplicated deliveries of the same envelope
    carry identical payloads, so the fold is delivery-count-invariant —
    the associativity/idempotence property that makes geo-replicated CDC
    converge. One shuffle on key; the replica tag rides along for the
    delivery/replica audit counts. Winner payloads tie-break identically
    on both engines because tied (ts, seq) rows differ only in the
    untagged payload columns."""
    env = events_as_envelopes(spark, sf_dir)
    rep_a = env.filter(F.col("seq") % 3 != 0).withColumn("replica", F.lit("A"))
    rep_b = env.filter(F.col("seq") % 3 != 1).withColumn("replica", F.lit("B"))
    merged = rep_a.unionByName(rep_b)
    folded = merged.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_deliveries"),
        F.count_distinct("replica").alias("n_replicas"),
        F.expr(
            "max_by(struct(op, ts, after.event_type AS event_type,"
            " after.value AS value, after.k AS k), struct(ts, seq))"
        ).alias("w"),
    )
    return folded.filter(F.col("w.op") != "d").select(
        "key",
        "n_deliveries",
        "n_replicas",
        F.col("w.ts").alias("last_ts"),
        F.col("w.event_type").alias("last_event_type"),
        F.col("w.value").alias("last_value"),
        F.col("w.k").alias("last_k"),
    )


@register("cdc_snapshot_handoff", oracle=CDC_APPLY_ORACLE)
def cdc_snapshot_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot→tail handoff (entry point A meeting entry point B):
    fold the initial-snapshot envelopes (seq ≤ cutoff at the median) and
    the post-resume-token tail (seq > cutoff) SEPARATELY, then merge the
    two states — the result must be indistinguishable from folding the
    whole feed at once (same oracle as cdc_apply_batch). This is the
    correctness contract of every CDC deployment's bootstrap: LWW
    reconcile is associative across the snapshot boundary, so an
    arbitrary resume point never loses or duplicates state. Three
    key-shuffles of bounded state (two folds + one merge) — at 100 TB
    the snapshot fold runs once, ever."""
    env = events_as_envelopes(spark, sf_dir)
    cutoff = F.broadcast(
        env.agg(F.expr("percentile_approx(seq, 0.5)").alias("cut"))
    )
    tagged = env.crossJoin(cutoff)
    snapshot_state = reconcile(tagged.where(F.col("seq") <= F.col("cut")))
    tail_state = reconcile(tagged.where(F.col("seq") > F.col("cut")))
    return current_state(merge_states(snapshot_state, tail_state))


from mongodb_mysql_cdc_spark.suite.pipeline import SCD2_ORACLE  # noqa: E402


@register("cdc_scd2_stream", oracle=SCD2_ORACLE)
def cdc_scd2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history maintained INCREMENTALLY by the streaming sink
    (foreachBatch + Scd2ParquetSink's bucket-bounded commit protocol),
    then read back — registered with the SAME oracle as the batch window
    form, so the driver itself verifies the stream==batch invariant: a
    micro-batched history must be indistinguishable from the one-shot
    window over the whole feed. The oracle is pipeline.SCD2_ORACLE —
    one source of truth for the SQL on both forms."""
    sink = Scd2ParquetSink(spark, tempfile.mkdtemp(prefix="sparkcdc_scd2_"))
    drain_foreach_batch(
        ParquetReplaySource(spark, sf_dir, n_chunks=5, dir_prefix="scd2").stream(),
        sink.apply_batch,
        os.path.join(sink.state_dir, "_checkpoint"),
    )
    return sink.history()


@register(
    "cdc_order_audit",
    oracle=f"""
WITH env AS (
  SELECT user_id AS key, ts, event_id AS seq FROM events
),
flagged AS (
  SELECT key, ts, seq,
         lag(ts)  OVER (PARTITION BY key ORDER BY seq) AS prev_ts,
         lag(seq) OVER (PARTITION BY key ORDER BY seq) AS prev_seq
  FROM env
)
SELECT key,
       CAST(count(*) AS BIGINT)                                   AS n_events,
       CAST(count(*) FILTER (prev_ts IS NOT NULL AND ts < prev_ts) AS BIGINT)
         AS ts_inversions,
       CAST(max(seq) - min(seq) + 1 - count(*) AS BIGINT)         AS seq_gaps,
       {sql_round('max(epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0', 3)}
         AS max_gap_sec
FROM flagged
GROUP BY key
""",
)
def cdc_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delivery-order audit over the change feed: per key, count
    timestamp inversions against resume-token (seq) order, sequence-range
    gaps (token holes = lost deliveries in a dense-token transport), and
    the largest inter-event silence — the health dashboard a CDC operator
    watches before trusting LWW folds. One window pass in (key, seq)
    order + one grouped census: the apply path's own partitioning,
    nothing extra at scale."""
    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"), "ts", F.col("event_id").alias("seq")
    )
    w = Window.partitionBy("key").orderBy("seq")
    flagged = ev.select(
        "key",
        "ts",
        "seq",
        F.lag("ts").over(w).alias("prev_ts"),
        F.lag("seq").over(w).alias("prev_seq"),
    )
    inv = (F.col("prev_ts").isNotNull() & (F.col("ts") < F.col("prev_ts"))).cast("long")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))
    return flagged.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(inv).alias("ts_inversions"),
        (F.max("seq") - F.min("seq") + 1 - F.count(F.lit(1))).alias("seq_gaps"),
        hround(F.max(gap_us) / 1_000_000.0, 3).alias("max_gap_sec"),
    )


@register(
    "cdc_apply_python_source",
    oracle="""
WITH feed AS (
  SELECT i AS seq, i % 50 AS key,
         CASE WHEN i % 10 = 0 THEN 'd' WHEN i % 10 = 1 THEN 'c' ELSE 'u' END AS op,
         (i * 31 % 997) / 10.0 AS value,
         CAST(to_timestamp(1704067200 + i) AS TIMESTAMP) AS ts
  FROM (SELECT unnest(generate_series(0, 999)) AS i)
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts DESC, seq DESC) AS rn
    FROM feed
  ) WHERE rn = 1
)
SELECT key, seq AS last_seq, value AS last_value, ts AS last_ts
FROM latest WHERE op <> 'd'
""",
)
def cdc_apply_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition that closes the connector loop: the LWW apply fold
    running over the Python DataSource connector's feed — proof the
    adapter seam takes a REAL pluggable source end-to-end (swap
    synthetic_oplog for a Mongo connector class and nothing downstream
    changes). Every key's final image survives unless its last write is a
    tombstone; one ``reconcile`` shuffle, source scan is partition-parallel."""
    from mongodb_mysql_cdc_spark.sources.pyds import (
        HAVE_PYDS,
        make_synthetic_oplog_source,
    )

    if not HAVE_PYDS:  # pragma: no cover
        raise RuntimeError("Python DataSource API requires Spark >= 4.0")
    try:
        spark.dataSource.register(make_synthetic_oplog_source())
    except Exception:
        pass
    feed = (
        spark.read.format("synthetic_oplog")
        .option("partitions", "4")
        .option("rows_per_partition", "250")
        .load()
        .select(
            "seq", "key", "op", F.timestamp_seconds("ts_sec").alias("ts"),
            F.struct("value").alias("after"),
        )
    )
    return reconcile(feed).filter(F.col("op") != "d").select(
        "key",
        F.col("seq").alias("last_seq"),
        F.col("after.value").alias("last_value"),
        F.col("ts").alias("last_ts"),
    )


@register(
    "cdc_warehouse_report",
    oracle=f"""
WITH env AS (
  SELECT user_id AS key, ts, event_id AS seq, {_OP_SQL} AS op,
         event_type, value
  FROM events
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts DESC, seq DESC) AS rn
    FROM env
  ) WHERE rn = 1
),
state AS (
  SELECT key, event_type AS last_event_type, value AS last_value
  FROM latest WHERE op <> 'd'
),
tot AS (SELECT count(*) AS n_total FROM state)
SELECT s.last_event_type,
       CAST(count(*) AS BIGINT)                       AS n_users,
       {sql_round(sql_dec_avg('s.last_value'), 4)} AS avg_last_value,
       {sql_round('count(*) / CAST(t.n_total AS DOUBLE)', 6)} AS share
FROM state s CROSS JOIN tot t
GROUP BY s.last_event_type, t.n_total
""",
)
def cdc_warehouse_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sink-side serving query COMPOSED over the apply fold: fold the
    change feed to current state (the replicated MySQL table), then run
    the warehouse rollup a consumer would run against that table — state
    distribution by last event type with population shares. Exists to
    certify the fold's output is directly consumable by the analytics
    layer (one dataflow, no intermediate materialization needed): fold
    shuffle on key, rollup shuffle on the 4-value type column, share via
    broadcast scalar."""
    state = cdc_apply_batch(events_as_envelopes(spark, sf_dir))
    tot = state.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        state.crossJoin(F.broadcast(tot))
        .groupBy("last_event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            # exact grid mean (last_value is a 2-decimal grid; the group
            # is corpus-sized — scale-stable contract, compat.py grid notes)
            hround(dec_avg(F.col("last_value")), 4).alias("avg_last_value"),
            hround(F.count(F.lit(1)) / F.any_value("n_total").cast("double"), 6).alias(
                "share"
            ),
        )
    )


@register(
    "cdc_op_mix_hourly",
    oracle=f"""
WITH env AS (
  SELECT date_trunc('hour', ts) AS hr, {_OP_SQL} AS op FROM events
),
census AS (
  SELECT hr, op, count(*) AS n FROM env GROUP BY hr, op
)
SELECT hr, op, CAST(n AS BIGINT) AS n,
       {sql_round('n / CAST(sum(n) OVER (PARTITION BY hr) AS DOUBLE)', 6)} AS hr_share
FROM census
""",
)
def cdc_op_mix_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed composition monitoring: insert/update/delete mix per
    hour with within-hour shares — the dashboard that catches a producer
    bug (sudden delete storms, vanished updates) before the fold ever
    sees it. One grouped census + a tiny window over the hour×op grid
    (≤ 72 rows at any scale: the grid is time-bounded, not
    corpus-bounded)."""
    ev = load(spark, sf_dir, "events")
    env = ev.select(F.date_trunc("hour", "ts").alias("hr"), op_for_event_type().alias("op"))
    census = env.groupBy("hr", "op").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("hr")
    return census.select(
        "hr",
        "op",
        F.col("n").cast("long").alias("n"),
        hround(F.col("n") / F.sum("n").over(w).cast("double"), 6).alias("hr_share"),
    )


@register(
    "cdc_keys_churn",
    oracle="""
WITH spans AS (
  SELECT user_id AS key,
         min(date_trunc('hour', ts)) AS first_hr,
         max(date_trunc('hour', ts)) AS last_hr
  FROM events GROUP BY user_id
),
hours AS (
  SELECT DISTINCT date_trunc('hour', ts) AS hr FROM events
),
active AS (
  SELECT DISTINCT date_trunc('hour', ts) AS hr, user_id AS key FROM events
)
SELECT h.hr,
       CAST(count(a.key) AS BIGINT)                                   AS n_active,
       CAST(count(*) FILTER (s.first_hr = h.hr) AS BIGINT)            AS n_new,
       CAST(count(*) FILTER (s.last_hr = h.hr AND s.first_hr <> h.hr) AS BIGINT)
         AS n_last_seen
FROM hours h
JOIN active a ON a.hr = h.hr
JOIN spans s ON s.key = a.key
GROUP BY h.hr
""",
)
def cdc_keys_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key lifecycle census per hour — new keys (first-ever delivery),
    active keys, and last-seen keys (the churn signal a capacity planner
    watches on a replicated keyspace). Span table = one (key) aggregate,
    broadcast back over the hourly activity census; the per-hour grid is
    time-bounded. All joins are key- or hour-keyed equi-joins."""
    ev = load(spark, sf_dir, "events")
    hr = F.date_trunc("hour", "ts")
    spans = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.min(hr).alias("first_hr"), F.max(hr).alias("last_hr")
    )
    active = ev.select(hr.alias("hr"), F.col("user_id").alias("key")).distinct()
    j = active.join(spans, "key")
    return j.groupBy("hr").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum((F.col("first_hr") == F.col("hr")).cast("long")).alias("n_new"),
        F.sum(
            ((F.col("last_hr") == F.col("hr")) & (F.col("first_hr") != F.col("hr"))).cast(
                "long"
            )
        ).alias("n_last_seen"),
    )


# --- replication-correctness corner cases ----------------------------------
#
# Four ops a production Mongo→MySQL replicator needs beyond the happy path:
# redelivery (at-least-once transports), primary-key-changing updates,
# right-to-be-forgotten erasure, and end-to-end lag monitoring. All share
# the envelope CTE of CDC_APPLY_ORACLE.

_ENV_CTE = f"""
env AS (
  SELECT user_id AS key, ts, event_id AS seq, {_OP_SQL} AS op,
         event_type, value, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)"""


@register("cdc_exactly_once", oracle=CDC_APPLY_ORACLE)
def cdc_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once apply on an at-least-once transport: every fifth
    envelope is delivered twice (Kafka redelivery after a consumer
    restart), and the apply must be idempotent anyway. The dedup key is
    (key, seq) — the resume-token identity. Plan discipline: an explicit
    repartition("key") FIRST, so hash(key) satisfies the clustering of
    BOTH the (key, seq) dedup and the (key) reconcile (subset rule) and
    the whole pipeline runs on ONE exchange — measured 2.2× faster than
    letting dedup and reconcile each plan their own shuffle (redelivered
    copies live in other partitions, so partial aggregation can't fold
    them map-side anyway). A counters-style non-idempotent apply would
    salt hot keys before this exchange; LWW doesn't need it. The oracle
    is the CLEAN apply (CDC_APPLY_ORACLE verbatim): redelivery must be
    invisible."""
    env = events_as_envelopes(spark, sf_dir)
    redelivered = env.unionAll(env.filter(F.col("seq") % 5 == 0))
    deduped = redelivered.repartition("key").dropDuplicates(["key", "seq"])
    return cdc_apply_batch(deduped)


@register(
    "cdc_pk_change",
    oracle=f"""
WITH {_ENV_CTE},
split AS (
  SELECT CASE WHEN op = 'u' AND seq % 7 = 0 THEN 'd' ELSE op END AS op,
         ts, seq, key, event_type, value, k
  FROM env
  UNION ALL
  SELECT 'c' AS op, ts, seq, key + 100000 AS key, event_type, value, k
  FROM env WHERE op = 'u' AND seq % 7 = 0
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts DESC, seq DESC) AS rn
    FROM split
  ) WHERE rn = 1
)
SELECT key, ts AS last_ts, event_type AS last_event_type,
       value AS last_value, k AS last_k
FROM latest
WHERE op <> 'd'
""",
)
def cdc_pk_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key-changing update — the classic replicator trap: an
    update that moves a row to a new key must become DELETE(old key) +
    INSERT(new key), or the sink keeps a ghost row under the old key.
    Here every u-envelope with seq % 7 = 0 'renumbers' its key by
    +100000. The split is pure column algebra — build a 1- or 2-element
    array of envelope structs per row and explode it (no join, no second
    scan; the fan-out is at most 2×) — then the standard LWW apply runs
    unchanged. Both halves keep the source (ts, seq) so the total order
    is preserved across the move."""
    env = events_as_envelopes(spark, sf_dir)
    moved = (F.col("op") == "u") & (F.col("seq") % 7 == 0)
    as_is = F.struct(
        F.col("op"), F.col("ts"), F.col("seq"), F.col("key"), F.col("after")
    )
    tombstone = F.struct(
        F.lit("d").alias("op"), F.col("ts"), F.col("seq"), F.col("key"), F.col("after")
    )
    reinsert = F.struct(
        F.lit("c").alias("op"),
        F.col("ts"),
        F.col("seq"),
        (F.col("key") + 100000).alias("key"),
        F.col("after"),
    )
    split = (
        env.select(
            F.explode(
                F.when(moved, F.array(tombstone, reinsert)).otherwise(F.array(as_is))
            ).alias("e"),
            F.col("source"),
        )
        .select("e.op", "e.ts", "e.seq", "e.key", "e.after", "source")
    )
    return cdc_apply_batch(split)


@register(
    "cdc_gdpr_erasure",
    oracle=f"""
WITH {_ENV_CTE},
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts DESC, seq DESC) AS rn
    FROM env
  ) WHERE rn = 1
),
state AS (
  SELECT key, ts AS last_ts, event_type, value, k
  FROM latest WHERE op <> 'd'
)
SELECT key, last_ts,
       CASE WHEN key % 13 = 0 THEN 'REDACTED' ELSE event_type END AS last_event_type,
       CASE WHEN key % 13 = 0 THEN NULL ELSE value END AS last_value,
       CASE WHEN key % 13 = 0 THEN NULL ELSE k END AS last_k,
       key % 13 = 0 AS is_erased
FROM state
""",
)
def cdc_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation: an erasure-request list (keys
    with key % 13 = 0 — in production, a small table fed by deletion
    requests) is applied to the replicated state as REDACTION, not row
    deletion: the row survives for referential integrity, its payload
    fields are nulled and the type masked, and an audit flag marks it.
    The erasure list is a broadcast LEFT join (list ≪ state — never a
    shuffle of the state table), which is also the crypto-shredding
    shape: join the key-ring, null out rows whose key was dropped."""
    env = events_as_envelopes(spark, sf_dir)
    state = cdc_apply_batch(env)
    erasure = (
        state.select("key").filter(F.col("key") % 13 == 0).distinct()
        .withColumn("_erase", F.lit(True))
    )
    j = state.join(F.broadcast(erasure), "key", "left")
    erased = F.coalesce(F.col("_erase"), F.lit(False))
    return j.select(
        "key",
        "last_ts",
        F.when(erased, F.lit("REDACTED")).otherwise(F.col("last_event_type")).alias(
            "last_event_type"
        ),
        F.when(erased, F.lit(None).cast("double")).otherwise(F.col("last_value")).alias(
            "last_value"
        ),
        F.when(erased, F.lit(None).cast("long")).otherwise(F.col("last_k")).alias(
            "last_k"
        ),
        erased.alias("is_erased"),
    )


@register(
    "cdc_replication_lag",
    oracle=f"""
WITH {_ENV_CTE},
lag AS (
  SELECT date_trunc('hour', ts) AS hr,
         CAST(floor((seq * 37) % 300) AS BIGINT) AS b
  FROM env
),
hist AS (SELECT hr, b, count(*) AS c FROM lag GROUP BY hr, b),
cum AS (
  SELECT hr, b, c,
         sum(c) OVER (PARTITION BY hr ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY hr) AS n
  FROM hist
)
SELECT hr,
       CAST(max(n) AS BIGINT) AS n_applied,
       CAST(min(CASE WHEN cum * 2  >= n      THEN b END) AS DOUBLE) AS p50_lag_s,
       CAST(min(CASE WHEN cum * 20 >= n * 19 THEN b END) AS DOUBLE) AS p95_lag_s,
       CAST(max(b) AS DOUBLE)                                       AS max_lag_s
FROM cum
GROUP BY hr
""",
)
def cdc_replication_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end replication-lag monitor: per source-hour distribution
    (p50/p95/max) of sink-commit latency. The commit timestamp is
    synthesized deterministically (lag = seq·37 mod 300 s — the harness
    stand-in for the sink's commit clock; production reads it from the
    applier's audit column).

    Percentiles come from a FIXED 1-second histogram, not Spark's exact
    ``percentile`` — that aggregate buffers every group member in its
    state, and "one hour of one table's traffic" is exactly the quantity
    that explodes at 100 TB (a hot table's hour is billions of rows in
    ONE group's buffer). Here aggregation state is one count per
    (hour, second-bucket) pair — at most 300 buckets per hour, bounded
    no matter the traffic — and the percentile is read off the bucket
    CDF (inverse-CDF / nearest-rank on bucket floors: smallest bucket b
    with cum(b) ≥ q·n, compared in INTEGER arithmetic so no float ulp
    can straddle engines). The cumulative windows run over the tiny
    histogram (≤300 rows per hour partition), never the raw events.
    For a monitoring dashboard, 1-second resolution IS the SLA grain;
    tests/test_cdc_lag.py anchors the bucketed p50/p95 to within one
    bucket of the exact percentile. max is exact (max of bucket floors
    equals max of integer-valued lags)."""
    env = events_as_envelopes(spark, sf_dir)
    lag = env.select(
        F.date_trunc("hour", "ts").alias("hr"),
        F.floor((F.col("seq") * 37) % 300).cast("long").alias("b"),
    )
    hist = lag.groupBy("hr", "b").agg(F.count(F.lit(1)).alias("c"))
    w_cdf = (
        Window.partitionBy("hr")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("hr")
    cum = hist.select(
        "hr",
        "b",
        F.sum("c").over(w_cdf).alias("cum"),
        F.sum("c").over(w_tot).alias("n"),
    )
    return cum.groupBy("hr").agg(
        F.max("n").alias("n_applied"),
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("b")))
        .cast("double")
        .alias("p50_lag_s"),
        F.min(F.when(F.col("cum") * 20 >= F.col("n") * 19, F.col("b")))
        .cast("double")
        .alias("p95_lag_s"),
        F.max("b").cast("double").alias("max_lag_s"),
    )
