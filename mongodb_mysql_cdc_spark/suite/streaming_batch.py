"""§2.9 batch-equivalent forms of the streaming window operators.

Structured Streaming's correctness story is that a streaming query equals
the batch query over the data-so-far (SIGMOD 2018); these entries check the
batch side against SQL, and tests/test_streaming.py checks the live stream
against these same functions — closing the parity triangle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.registry import register
from mongodb_mysql_cdc_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)


@register(
    "win_tumbling",
    oracle="""
SELECT date_trunc('hour', ts) AS win_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
       event_type,
       count(*) AS n
FROM events
GROUP BY 1, 2, 3
""",
)
def win_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(load(spark, sf_dir, "events"), "1 hour")


@register(
    "win_sliding",
    oracle="""
WITH assigned AS (
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS win_start, event_type FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) AS win_start, event_type FROM events
)
SELECT win_start,
       win_start + INTERVAL 2 HOUR AS win_end,
       event_type,
       count(*) AS n
FROM assigned
GROUP BY 1, 2, 3
""",
)
def win_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2h windows sliding by 1h: every event lands in exactly two windows;
    the oracle materializes the window assignment as a UNION ALL."""
    return sliding_counts(load(spark, sf_dir, "events"), "2 hours", "1 hour")


@register(
    "win_session",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM gaps
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, sid
""",
)
def win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30 min) per user. The oracle is the classic
    lag + cumulative-gap-flag sessionization — a strong independent check
    of Spark's session_window merge semantics (new session iff the gap is
    >= 30 min, exact to the microsecond via epoch_us)."""
    return session_counts(load(spark, sf_dir, "events"), "30 minutes")


@register(
    "stream_session",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM gaps
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, sid
""",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE session windows (§2.9 win_session's streaming form): the
    replayed change feed grouped by session_window in APPEND mode, so a
    session row only emits once the watermark proves the 30-min gap —
    i.e. every emission is FINAL (no update-folding needed, unlike the
    tumbling complete-mode query). Far-future heartbeats flush the tail
    sessions; the ghost user's own session is filtered out batch-side.
    Same oracle as the batch win_session — stream/batch parity for the
    merge semantics of session windows, which are the hardest stateful
    case (windows merge as late events bridge gaps). The ghost filter is
    NULL-SAFE: a plain ``!=`` evaluates NULL for a NULL user and
    silently drops every NULL-user session — NULL keys are real session
    groups on both engines."""
    from mongodb_mysql_cdc_spark.streaming.replay import (
        GHOST_USER,
        drain_to_memory_table,
        read_event_stream,
        stage_event_chunks,
        stage_heartbeats,
    )
    from mongodb_mysql_cdc_spark.streaming.windows import session_counts

    staged = stage_event_chunks(spark, sf_dir, n_chunks=4, dir_prefix="sess")
    stage_heartbeats(spark, staged, sf_dir)
    stream = read_event_stream(spark, staged).withWatermark("ts", "1 hour")
    sess = session_counts(stream, "30 minutes")
    out = drain_to_memory_table(spark, sess, "sess", "append", settle=True)
    return out.filter(~F.col("user_id").eqNullSafe(F.lit(GHOST_USER)))


@register(
    "stream_session_stateful",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM gaps
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, sid
""",
)
def stream_session_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows as a CUSTOM stateful operator —
    applyInPandasWithState instead of the built-in session_window
    (streaming/windows.py:stateful_session_stream). The StateStore keeps
    only the open session per user (three scalars); closed sessions emit
    immediately and the open session's snapshot emits every batch, so the
    tail flushes with no watermark/heartbeat machinery. Update-mode
    emissions fold to final sessions via groupBy max (emissions are
    monotone per session). Third session-window form, same oracle —
    built-in batch, built-in streaming, and custom-state streaming must
    agree exactly."""
    from mongodb_mysql_cdc_spark.streaming.replay import (
        drain_to_memory_table,
        read_event_stream,
        stage_event_chunks,
    )
    from mongodb_mysql_cdc_spark.streaming.windows import (
        fold_session_updates,
        stateful_session_stream,
    )

    staged = stage_event_chunks(spark, sf_dir, n_chunks=4, dir_prefix="sessst")
    sess = stateful_session_stream(read_event_stream(spark, staged))
    out = drain_to_memory_table(spark, sess, "sessst", "update")
    return fold_session_updates(out)


@register(
    "late_data",
    oracle="""
SELECT event_id, user_id, ts
FROM events
WHERE ts < (SELECT max(ts) FROM events) - INTERVAL 24 HOUR
""",
)
def late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark predicate as batch algebra: rows older than
    max(event time) − delay are what a 24h watermark would drop/route to
    the side output. The scalar max is broadcast, never collected."""
    ev = load(spark, sf_dir, "events")
    horizon = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 24 HOURS")).alias("_horizon")
    )
    return (
        ev.crossJoin(F.broadcast(horizon))
        .filter(F.col("ts") < F.col("_horizon"))
        .select("event_id", "user_id", "ts")
    )


@register(
    "stream_stream_join",
    oracle="""
SELECT p.event_id AS p_id, p.user_id AS user_id, p.ts AS p_ts,
       s.event_id AS s_id, s.ts AS s_ts
FROM events p JOIN events s
  ON p.event_type = 'purchase' AND s.event_type = 'signup'
 AND s.user_id = p.user_id
 AND s.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE stream-stream inner join (§2.9 stream_join): purchases joined
    to same-user signups within the preceding hour, both sides replayed as
    real file streams with watermarks. The time-range condition is what
    bounds join state: Spark evicts right-side rows once the watermark
    passes ts + 1h, so state is O(events per watermark window), not
    O(stream) — the only shape that survives an unbounded stream. The
    oracle is the batch self-join (stream/batch parity)."""
    from mongodb_mysql_cdc_spark.streaming.replay import (
        drain_to_memory_table,
        read_event_stream,
        stage_event_chunks,
    )

    staged = stage_event_chunks(spark, sf_dir, n_chunks=4, dir_prefix="ssj")
    left = (
        read_event_stream(spark, staged)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    right = (
        read_event_stream(spark, staged)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("s_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "2 hours")
    )
    joined = left.join(
        right,
        F.expr("user_id = s_user AND s_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"),
    ).select("p_id", "user_id", "p_ts", "s_id", "s_ts")
    return drain_to_memory_table(spark, joined, "ssj", "append")


@register(
    "stream_stream_join_left",
    oracle="""
SELECT p.event_id AS p_id, p.user_id AS user_id, p.ts AS p_ts,
       s.event_id AS s_id, s.ts AS s_ts
FROM events p LEFT JOIN events s
  ON s.event_type = 'signup'
 AND s.user_id = p.user_id
 AND s.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
WHERE p.event_type = 'purchase'
""",
)
def stream_stream_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join (§2.9): purchases with their
    preceding-hour signup, or nulls once the watermark proves no match can
    arrive.

    Outer results only emit when the watermark passes a left row's join
    window, so the replay appends far-future HEARTBEAT rows — the
    production idiom (Debezium heartbeats) — to flush the tail. Two
    hard-won subtleties, found empirically from oracle mismatches:

    - The null-supplying side's join conjunct (s_type='signup') is pushed
      BELOW the right EventTimeWatermark operator, so that watermark only
      ever observes signups — the heartbeat must therefore BE a signup
      (with a ghost user_id that matches nothing) or the right watermark
      starves. Equality-derived constraints propagate the same way, which
      is also why the ghost id is encoded in the row rather than as a
      `user_id >= 0` conjunct.
    - Watermark application lags batches and the final no-data batch is
      not reliable here, so THREE ascending heartbeats are staged: by the
      last heartbeat's batch the watermark has provably passed every real
      event and the outer tail emits inside data batches.

    Oracle: the plain batch LEFT JOIN."""
    from mongodb_mysql_cdc_spark.streaming.replay import (
        drain_to_memory_table,
        read_event_stream,
        stage_event_chunks,
        stage_heartbeats,
    )

    staged = stage_event_chunks(spark, sf_dir, n_chunks=4, dir_prefix="ssjl")
    stage_heartbeats(spark, staged, sf_dir, event_type="signup")

    left = (
        read_event_stream(spark, staged)
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("event_type").alias("p_type"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        # Shuffle/state fewer bytes: drop non-purchase
        # left rows BEFORE the join instead of filtering their junk
        # unmatched-outer emissions afterwards — the left state store then
        # holds purchases only (10× smaller here; at 100 TB the difference
        # between buffering the purchase stream and buffering EVERY event).
        # The OR arm keeps the ghost heartbeats (p_id < 0) flowing so the
        # left watermark still advances — a bare purchase filter is pushed
        # below the EventTimeWatermark and would starve it (module-note
        # heartbeat contract). Output hash-verified identical.
        .filter((F.col("p_type") == "purchase") | (F.col("p_id") < 0))
    )
    right = (
        read_event_stream(spark, staged)
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("s_id"),
            F.col("event_type").alias("s_type"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
        )
    )
    joined = left.join(
        right,
        F.expr(
            "user_id = s_user AND p_type = 'purchase' AND s_type = 'signup' "
            "AND s_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
        ),
        "leftOuter",
    )
    emissions = drain_to_memory_table(spark, joined, "ssjl", "append", settle=True)
    # batch-side: keep real purchases only (left rows of other types are
    # legitimate unmatched-outer emissions of this encoding; the ghost
    # heartbeat's own outer row has p_id < 0)
    return emissions.filter(
        (F.col("p_type") == "purchase") & (F.col("p_id") >= 0)
    ).select("p_id", "user_id", "p_ts", "s_id", "s_ts")


@register(
    "stream_static_join",
    oracle="""
SELECT e.event_id, e.user_id, c.c_mktsegment AS segment, e.value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-side enrichment against a static dim — in streaming this is
    the stream-static join (no watermark needed, dim re-read per batch);
    identical algebra shown in batch form for the oracle."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return ev.join(c, ev.user_id == c.c_custkey).select(
        "event_id", "user_id", F.col("c_mktsegment").alias("segment"), "value"
    )


@register(
    "stream_sliding",
    oracle="""
WITH assigned AS (
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS win_start, event_type FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) AS win_start, event_type FROM events
)
SELECT win_start,
       win_start + INTERVAL 2 HOUR AS win_end,
       event_type,
       count(*) AS n
FROM assigned
GROUP BY 1, 2, 3
""",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE sliding windows (complete mode): every event lands in two 2h/1h
    windows; same oracle as the batch win_sliding (stream/batch parity).
    Complete mode because slides overlap until the watermark closes them;
    at 100 TB you would emit with append mode + watermark and accept
    finalized-window latency instead of re-emission volume."""
    from mongodb_mysql_cdc_spark.streaming.replay import (
        drain_to_memory_table,
        read_event_stream,
        stage_event_chunks,
    )
    from mongodb_mysql_cdc_spark.streaming.windows import sliding_counts, with_watermark

    staged = stage_event_chunks(spark, sf_dir, n_chunks=4, dir_prefix="slide")
    stream = with_watermark(read_event_stream(spark, staged), "1 hour")
    agg = sliding_counts(stream).select("win_start", "win_end", "event_type", "n")
    return drain_to_memory_table(spark, agg, "slide", "complete")


@register(
    "stream_topk",
    oracle="""
WITH wc AS (
  SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n
  FROM events
  GROUP BY 1, 2
)
SELECT win_start, event_type, n, rnk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY win_start
                                    ORDER BY n DESC, event_type) AS BIGINT) AS rnk
  FROM wc
) WHERE rnk <= 3
""",
)
def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE windowed heavy hitters: per tumbling hour, the top-3 event
    types by count. Ranking windows are unsupported INSIDE a streaming
    aggregation, so the shape is the production one: the stream maintains
    the windowed counts (complete mode — counts keep updating until the
    feed ends), and the rank-prune runs as a batch read OVER the drained
    sink table (in deployment: the serving query over the sink). Same
    oracle as the equivalent one-shot batch window — stream/batch parity
    for the composed pipeline, tie-broken on event_type."""
    from mongodb_mysql_cdc_spark.streaming.replay import (
        drain_to_memory_table,
        read_event_stream,
        stage_event_chunks,
    )
    from mongodb_mysql_cdc_spark.streaming.windows import tumbling_counts, with_watermark

    staged = stage_event_chunks(spark, sf_dir, n_chunks=4, dir_prefix="topk")
    stream = with_watermark(read_event_stream(spark, staged), "1 hour")
    agg = tumbling_counts(stream).select("win_start", "event_type", "n")
    counts = drain_to_memory_table(spark, agg, "topkwin", "complete")
    w = Window.partitionBy("win_start").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
    )
