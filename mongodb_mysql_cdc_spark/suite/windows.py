"""§2.5 window functions.

Scale notes: a window = one hash shuffle on the partition key + a
per-partition sort. Keys here (user_id, nation, event_type) are
high-cardinality or bounded — no single partition can exceed one
executor's memory at 100 TB except event_type (5 values): real
deployments would sub-bucket such a window or push it through an
aggregate instead. Every ORDER BY carries a unique tiebreak key, since
rank/ntile/percent_rank are order-sensitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.functions.compat import hround, sql_round
from mongodb_mysql_cdc_spark.registry import register


@register(
    "win_row_number",
    oracle="""
SELECT user_id, event_type, event_id, ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
""",
)
def win_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC dedup primitive: newest event per (user, type)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


@register(
    "win_rank_dense",
    oracle=f"""
WITH spend AS (
  SELECT c_custkey, c_nationkey, {sql_round('sum(o_totalprice)')} AS spend
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey, c_nationkey
)
SELECT c_custkey, c_nationkey, spend,
       rank()       OVER (PARTITION BY c_nationkey ORDER BY spend DESC) AS rnk,
       dense_rank() OVER (PARTITION BY c_nationkey ORDER BY spend DESC) AS drnk,
       ntile(4)     OVER (PARTITION BY c_nationkey ORDER BY spend DESC, c_custkey) AS quartile
FROM spend
""",
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile per nation — without a Window: the input is a PER-CUSTOMER aggregate (grows with the
    corpus) and c_nationkey has 25 values, so Window.partitionBy is 25
    tasks sorting corpus/25 rows each at any scale. The tie-aware ranks
    come from the distinct-spend histogram: rank of every row tied at
    spend s = (running count of rows with spend > s) + 1, dense_rank =
    the distinct value's own position — both from ONE fused
    operators/ranking.py pass over the histogram (spend sums are
    near-unique, so the histogram itself is corpus-sized and must ALSO
    rank distributed), joined back on the well-distributed
    (nation, spend) key. The ntile tiebreak position needs no second
    machinery pass: pos = (cum − cnt) + row_number within the tie
    cohort, whose window partitions by the near-unique (nation, spend)
    — tiny partitions at any scale. quartile = SQL bucket arithmetic
    from the 25-row broadcast group totals."""
    from mongodb_mysql_cdc_spark.operators.ranking import (
        ntile_expr,
        with_group_position_and_cumsum,
    )

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    spend = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(hround(F.sum("o_totalprice")).alias("spend"))
        .withColumn("_neg", -F.col("spend"))  # machinery orders ASC; DESC = -spend
    )
    # localCheckpoint BEFORE fanning spend into multiple plan branches
    # (hist → machinery, the ranks join-back, the totals): a double-sum's
    # shuffle-merge order is not bit-deterministic, so re-executing the
    # aggregation per branch could flip hround by 0.01 on a round-half
    # boundary and silently drop that customer from the float-valued
    # (nation, spend) equi-join. Materializing once pins every branch to
    # identical bytes — and the machinery's boundary-sample job reads the
    # checkpointed rows instead of re-executing the customer⋈orders
    # aggregation (a 4.8× cliff at 100× data, BASELINE.md).
    spend = spend.localCheckpoint(eager=True)
    hist = spend.groupBy("c_nationkey", "_neg", "spend").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    hist = with_group_position_and_cumsum(
        hist, ["c_nationkey"], ["_neg"], "_cnt", "_dpos", "_cum"
    )
    ranks = hist.select(
        "c_nationkey",
        "spend",
        (F.col("_cum") - F.col("_cnt")).alias("_before"),
        F.col("_dpos").alias("drnk"),
    )
    # tiebreak position WITHOUT a second machinery pass: pos =
    # count-of-better (_before) + row_number within the tie cohort — the
    # cohort window is keyed by (nation, spend), a near-unique value, so
    # its partitions are tiny at any scale (lint: high-cardinality key)
    w_tie = Window.partitionBy("c_nationkey", "spend").orderBy("c_custkey")
    n_tbl = spend.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("_n"))
    joined = (
        spend.join(ranks, ["c_nationkey", "spend"])
        .join(F.broadcast(n_tbl), "c_nationkey")
        .withColumn("_pos", F.col("_before") + F.row_number().over(w_tie))
    )
    return joined.select(
        "c_custkey",
        "c_nationkey",
        "spend",
        (F.col("_before") + 1).alias("rnk"),
        "drnk",
        ntile_expr(F.col("_pos"), F.col("_n"), 4).cast("int").alias("quartile"),
    )


@register(
    "win_lag_lead",
    oracle=f"""
SELECT user_id, event_id, value,
       lag(value)  OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       {sql_round('value - lag(value) OVER w', 4)} AS delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        hround(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
    )


# Exact decimal running sum: a cumulative double sum's
# magnitude grows with the partition length while the 2-decimal rounding
# granularity doesn't, and the two engines associate frame sums
# differently (sequential vs segment tree) — the scale-tightening
# contract class (functions/compat.py). value is a 2-decimal grid, so
# decimal partials make every prefix sum exact on both engines.
_RUNNING_SUM = (
    "CAST(CAST(sum(CAST(value AS DECIMAL(18,2)))"
    " OVER (PARTITION BY user_id ORDER BY ts, event_id"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS STRING) AS DOUBLE)"
)
_MOVING_AVG = sql_round(
    "avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id"
    " ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)",
    4,
)


@register(
    "win_running",
    oracle=f"""
SELECT user_id, event_id,
       {_RUNNING_SUM} AS running_sum,
       {_MOVING_AVG} AS moving_avg,
       count(*) OVER (PARTITION BY user_id ORDER BY event_id
                    RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS n_nearby
FROM events
""",
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running totals (ROWS frame), moving average, and a RANGE frame
    (value-based window) over the event stream.

    Per-task work: the moving average is materialized RAW in the window
    projection and rounded in a separate select. ``hround``'s half-up
    CASE references its operand ~6 times, and window-context extraction
    lifts EVERY reference into its own window expression — rounding
    inside the window projection computes the identical sliding
    ``avg(value)`` frame aggregate 7× per row (_we1.._we6 in the
    committed before-plan). Rounding a concrete column
    afterwards leaves ONE avg window expression; output is bit-identical (same avg, same
    rounding, measured hash-equal; 0.477 → 0.359 s noop at sf0.1)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_range = Window.partitionBy("user_id").orderBy("event_id").rangeBetween(-100, 0)
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("string")
        .cast("double")
        .alias("running_sum"),
        F.avg("value").over(w.rowsBetween(-3, 0)).alias("_mavg"),
        F.count(F.lit(1)).over(w_range).alias("n_nearby"),
    ).select(
        "user_id",
        "event_id",
        "running_sum",
        hround(F.col("_mavg"), 4).alias("moving_avg"),
        "n_nearby",
    )


@register(
    "win_first_last",
    oracle="""
SELECT user_id, event_id,
       first_value(event_type) OVER w AS first_type,
       last_value(event_type)  OVER w AS last_type,
       nth_value(event_type, 2) OVER w AS second_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last/nth value with an explicit full frame — the default
    frame for last_value (…AND CURRENT ROW) is the classic SQL trap."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
    )


@register(
    "win_pct",
    oracle=f"""
SELECT event_type, event_id,
       {sql_round('percent_rank() OVER w', 6)} AS pct_rank,
       {sql_round('cume_dist() OVER w', 6)}    AS cum_dist
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value NULLS FIRST, event_id)
""",
)
def win_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist per event_type — re-spelled off the
    Window: a 5-value partition key sends corpus/5 rows through each of
    5 tasks at any scale. operators/ranking.py's distributed in-group
    position (range partition on (type, value, event_id) + per-partition
    row_number + broadcast offsets) yields rank with full parallelism;
    the order key is total (event_id unique), so there are no peer rows
    and percent_rank = (pos−1)/(n−1), cume_dist = pos/n exactly. NULL
    order: the machinery ranks NULL values FIRST (bucket 0 + Spark's
    ascending default); the oracle pins the same with NULLS FIRST —
    DuckDB's window default is NULLS LAST."""
    from mongodb_mysql_cdc_spark.operators.ranking import with_group_position

    ev = load(spark, sf_dir, "events")
    pos = with_group_position(
        ev.select("event_type", "event_id", "value"),
        ["event_type"],
        ["value", "event_id"],
        "_pos",
    )
    n_tbl = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("_n"))
    p = pos.join(F.broadcast(n_tbl), "event_type")
    pct = F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
        (F.col("_pos") - 1).cast("double") / (F.col("_n") - 1)
    )
    return p.select(
        "event_type",
        "event_id",
        hround(pct, 6).alias("pct_rank"),
        hround(F.col("_pos").cast("double") / F.col("_n"), 6).alias("cum_dist"),
    )


@register(
    "win_range_frame",
    oracle=f"""
SELECT event_id, user_id, ts,
       count(*) OVER w                    AS n_last_hour,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS STRING) AS DOUBLE) AS val_last_hour
FROM (SELECT event_id, user_id, ts, value,
             epoch_us(ts) // 1000000 AS ts_sec
      FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""",
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: per user, how many events / how much
    value in the trailing hour INCLUDING peers at the same instant —
    the value-based frame §2.5's ROWS frames can't express.

    Cross-engine note: the order key is epoch seconds (integer), not a
    timestamp — numeric RANGE frames behave identically everywhere,
    while interval-typed frames differ in dialect. Peers (equal ts_sec)
    enter the frame together in both engines, so no unique tiebreak is
    needed (unlike rank windows).

    100 TB: same cost model as any window — one shuffle on user_id plus
    a sort; frame evaluation is a sliding two-pointer over each
    partition, O(rows), state bounded by the hour span."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_sec"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "ts",
            "value",
            (F.unix_timestamp("ts")).alias("ts_sec"),
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            F.count(F.lit(1)).over(w).alias("n_last_hour"),
            # exact decimal frame sum — the sliding-frame double sum is
            # evaluated sequentially by Spark but via segment tree by
            # DuckDB (different association); decimal is order-free
            F.sum(F.col("value").cast("decimal(18,2)"))
            .over(w)
            .cast("string")
            .cast("double")
            .alias("val_last_hour"),
        )
    )


@register(
    "win_nth_value",
    oracle="""
SELECT event_id, user_id,
       nth_value(event_id, 2) OVER w AS second_event,
       first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                                EXCLUDE NO OTHERS) AS first_val,
       last_value(event_type) OVER w AS latest_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value / running first/last over a growing frame (§2.5 breadth):
    the 'second event so far' and 'type as of now' per user — unique
    (ts, event_id) tiebreak keeps every frame deterministic."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.nth_value("event_id", 2).over(w).alias("second_event"),
        F.first("value").over(w).alias("first_val"),
        F.last("event_type").over(w).alias("latest_type"),
    )


@register(
    "win_gaps_islands",
    oracle="""
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, event_id, ts,
       CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_id
FROM gaps
""",
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands session-id ASSIGNMENT (§2.5 meets sessionization):
    unlike session_window (which aggregates), this keeps every event row
    and labels it with its session ordinal — the shape feature pipelines
    need to join events back to their session. lag + running sum over ONE
    window spec = one shuffle + one sort; Catalyst evaluates both
    functions in a single WindowExec over the shared (user_id, ts,
    event_id) ordering."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    new_session = (
        F.when(prev_us.isNull() | (F.unix_micros("ts") - prev_us >= 1_800_000_000), 1)
        .otherwise(0)
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "user_id", "event_id", "ts",
        F.sum(new_session).over(run).alias("session_id"),
    )


@register(
    "win_running_distinct",
    oracle="""
SELECT user_id, event_id, ts, event_type,
       CAST(sum(first_flag)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS distinct_types_so_far
FROM (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_flag
  FROM events
)
""",
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — a frame no engine supports
    directly (DISTINCT is not frameable). Rewritten as the standard
    first-occurrence-flag algebra: mark each (user, type)'s first row with
    one ranking window, then running-sum the flags with a second. Two
    window passes, pre-clustered on user_id: hash(user_id) satisfies the
    first window's ClusteredDistribution(user_id, event_type) (subset
    rule), so Catalyst plans ONE Exchange and two Sorts instead of two
    full shuffles — at 100 TB the second shuffle is the one you feel."""
    ev = load(spark, sf_dir, "events").repartition("user_id")
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flag = F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(flag).over(w_run).alias("distinct_types_so_far"),
    )


@register(
    "win_rolling_median",
    oracle=f"""
SELECT user_id, event_id, ts,
       {sql_round('median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)', 6)} AS rolling_median
FROM events
""",
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median over a 21-row trailing frame — a window
    aggregate Spark doesn't ship (no median() OVER): the frame is
    materialized with collect_list() (deterministic frame order), sorted,
    and the midpoint interpolated with HOFs — all JVM-side, ~21 doubles
    per row, one shuffle on user_id. DuckDB's native windowed median
    (quantile_cont 0.5) is the cross-check, so the interpolation rule
    (avg of the two middles on even counts) is pinned by the oracle.
    NULL shape: both sides skip NULL values in the frame (collect_list /
    median both null-skipping); an ALL-null frame leaves svals EMPTY —
    the size-0 guard returns NULL exactly like DuckDB's median (an
    unguarded midpoint would index svals[-1] and crash)."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, Window.currentRow)
    )
    med = F.expr(
        "CASE WHEN size(svals) = 0 THEN CAST(NULL AS DOUBLE) "
        "WHEN size(svals) % 2 = 1 THEN svals[CAST(size(svals) DIV 2 AS INT)] "
        "ELSE (svals[CAST(size(svals) DIV 2 - 1 AS INT)]"
        " + svals[CAST(size(svals) DIV 2 AS INT)]) / 2.0 END"
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            F.array_sort(F.collect_list("value").over(w)).alias("svals"),
        )
        .select("user_id", "event_id", "ts", hround(med, 6).alias("rolling_median"))
    )


@register(
    "win_ratio_to_report",
    oracle=f"""
SELECT l_returnflag, l_orderkey, l_linenumber,
       {sql_round('l_extendedprice / sum(l_extendedprice) OVER (PARTITION BY l_returnflag)', 8)}
         AS share_of_flag,
       {sql_round('l_extendedprice / sum(l_extendedprice) OVER ()', 8)}
         AS share_of_total
FROM lineitem
""",
)
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ratio_to_report (share-of-group / share-of-total) — the classic
    reporting window Oracle/Teradata ship as a named function. The
    LITERAL translation is value / sum() OVER (partition) — that is what
    the oracle runs — but an unframed aggregate window over a 3-value
    partition key is 3 reducer tasks at ANY scale, and the unpartitioned
    total is the single-partition trap outright (every lineitem row on
    one task). Because the window carries no ordering, the re-spell is
    exact: group sums by a map-combined hash aggregate (3 rows) + the
    1-row grand total, both broadcast back onto the corpus — every step
    parallel, zero WindowExec. 8dp rounding absorbs the summation-order
    ulps (it already had to: DuckDB's window sums a different order).
    The join-back is NULL-SAFE on the flag: window PARTITION BY keeps a
    NULL group key as a real partition, so the join must too (a name
    equi-join would silently drop every NULL-flag row)."""
    li = load(spark, sf_dir, "lineitem")
    flag_sums = li.groupBy("l_returnflag").agg(
        F.sum("l_extendedprice").alias("_flag_sum")
    )
    total = li.agg(F.sum("l_extendedprice").alias("_tot"))
    renamed = flag_sums.select(
        F.col("l_returnflag").alias("_rf_j"), "_flag_sum"
    )
    return (
        li.join(
            F.broadcast(renamed),
            F.col("l_returnflag").eqNullSafe(F.col("_rf_j")),
        )
        .drop("_rf_j")
        .crossJoin(F.broadcast(total))
        .select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            hround(F.col("l_extendedprice") / F.col("_flag_sum"), 8).alias(
                "share_of_flag"
            ),
            hround(F.col("l_extendedprice") / F.col("_tot"), 8).alias(
                "share_of_total"
            ),
        )
    )
