"""Hypertable-style time-series operators: gap fill
with forward fill, OHLC bucket downsampling, and z-score anomaly flagging
over the ``events`` stream — the continuous-aggregate reads a TimescaleDB /
Influx-class user of the replicated warehouse expects.

100 TB notes: every query pre-aggregates the raw stream to bucket
cardinality (users × hours / users × days / event-type count) before any
join or window, so the wide operators run on data orders of magnitude
smaller than the scan. The only windows partition by ``user_id`` — high
cardinality, no skew concentration — and the anomaly join broadcasts an
event-type-sized stats table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.functions.compat import (
    dec_avg,
    grid_stddev_samp,
    grid_sum,
    grid_wsum,
    hround,
    sql_dec_avg,
    sql_grid_stddev_samp,
    sql_grid_sum,
    sql_grid_wsum,
    sql_round,
)
from mongodb_mysql_cdc_spark.registry import register


@register(
    "ts_gapfill",
    oracle=f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         {sql_dec_avg('value')} AS avg_value, count(*) AS n_events
  FROM events GROUP BY 1, 2
),
span AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM hourly GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM span
)
SELECT g.user_id, g.bucket,
       h.n_events IS NULL AS is_gap,
       coalesce(h.n_events, 0) AS n_events,
       {sql_round("last_value(h.avg_value IGNORE NULLS) OVER "
                  "(PARTITION BY g.user_id ORDER BY g.bucket "
                  "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 6)} AS value_ffill
FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.bucket = h.bucket
""",
)
def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup: aggregate to (user, hour) buckets, then
    densify each user's timeline with ``sequence`` + ``explode`` between
    their first and last bucket, and forward-fill missing values with
    ``last(ignorenulls)`` — the TimescaleDB ``time_bucket_gapfill`` +
    ``locf`` pair. The grid is generated from the BUCKET-cardinality
    rollup, never the raw stream, so at 100 TB the explode and the
    per-user window both run at users×hours scale; the raw scan feeds one
    map-combined hash aggregate and is never touched again."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(dec_avg(F.col("value")).alias("avg_value"), F.count("*").alias("n_events"))
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Forward-fill RAW in the window projection, round in a separate
    # select — hround's half-up CASE references its operand ~6× and
    # window-context extraction lifts every reference into its own window
    # expression, so rounding inside would compute the last(ignorenulls)
    # running aggregate 6× per grid row (the win_running pathology; 1.169 → 0.984 s noop at
    # sf0.1, hash-identical).
    return (
        grid.join(hourly, ["user_id", "bucket"], "left")
        .select(
            "user_id",
            "bucket",
            F.col("n_events").isNull().alias("is_gap"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("avg_value", ignorenulls=True).over(w).alias("_ff"),
        )
        .select(
            "user_id",
            "bucket",
            "is_gap",
            "n_events",
            hround(F.col("_ff"), 6).alias("value_ffill"),
        )
    )


@register(
    "ts_ohlc_downsample",
    oracle="""
WITH ordered AS (
  SELECT user_id, date_trunc('day', ts) AS day, value,
         first_value(value) OVER w AS open,
         last_value(value)  OVER w AS close
  FROM events
  WINDOW w AS (PARTITION BY user_id, date_trunc('day', ts) ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT user_id, day, min(open) AS open, max(value) AS high,
       min(value) AS low, min(close) AS close, count(*) AS n_ticks
FROM ordered GROUP BY user_id, day
""",
)
def ts_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling — the candlestick/feature-pipeline rollup: per
    (user, day) the first, max, min, and last observed value in
    (ts, event_id) order, with the unique event_id breaking timestamp
    ties deterministically. first/last come from one unbounded window
    whose partition keys equal the subsequent groupBy keys, so Catalyst
    plans a single exchange reused by both operators; open/close are
    constant within each group and min() just collapses them. No rounding
    needed: every output is a raw stored double, bit-identical on both
    engines."""
    ev = load(spark, sf_dir, "events").withColumn(
        # Materialize the bucket BEFORE the window so the window's
        # partitioning and the groupBy hash the same attribute — a
        # date_trunc inside partitionBy vs an alias in groupBy are
        # semantically equal but not expression-equal, which costs a
        # second exchange (observed: 2 exchanges → 1 after this).
        "day",
        F.date_trunc("day", "ts"),
    )
    w = (
        Window.partitionBy("user_id", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        ev.select(
            "user_id",
            "day",
            "value",
            F.first("value").over(w).alias("open"),
            F.last("value").over(w).alias("close"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.min("open").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.min("close").alias("close"),
            F.count("*").alias("n_ticks"),
        )
    )


@register(
    "anomaly_zscore",
    oracle=f"""
WITH stats AS (
  SELECT event_type, {sql_dec_avg('value')} AS mu,
         {sql_grid_stddev_samp('value')} AS sigma
  FROM events GROUP BY 1
)
SELECT event_id, e.event_type, value,
       {sql_round("(value - mu) / sigma", 6)} AS zscore
FROM events e JOIN stats USING (event_type)
WHERE abs((value - mu) / sigma) > 2.5
""",
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier flagging — the data-quality / monitoring read over
    the replicated stream: per-event-type mean and sample stddev, then
    every event more than 2.5σ out. The stats table is event-type
    cardinality (a handful of rows at ANY data scale) and is broadcast
    explicitly, so the scan never shuffles — the same
    aggregate-then-broadcast-back shape as the curation quality gates."""
    ev = load(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        dec_avg(F.col("value")).alias("mu"),
        grid_stddev_samp(F.col("value")).alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2.5)
        .select("event_id", "event_type", "value", hround(z, 6).alias("zscore"))
    )


@register(
    "ts_interpolate_linear",
    oracle=f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         {sql_dec_avg('value')} AS avg_value
  FROM events GROUP BY 1, 2
),
span AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM hourly GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM span
),
anchored AS (
  SELECT g.user_id, g.bucket, h.avg_value,
         last_value(h.avg_value IGNORE NULLS) OVER wback AS prev_val,
         last_value(CASE WHEN h.avg_value IS NOT NULL THEN g.bucket END IGNORE NULLS)
           OVER wback AS prev_ts,
         first_value(h.avg_value IGNORE NULLS) OVER wfwd AS next_val,
         first_value(CASE WHEN h.avg_value IS NOT NULL THEN g.bucket END IGNORE NULLS)
           OVER wfwd AS next_ts
  FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.bucket = h.bucket
  WINDOW wback AS (PARTITION BY g.user_id ORDER BY g.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wfwd  AS (PARTITION BY g.user_id ORDER BY g.bucket
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, bucket, avg_value IS NULL AS interpolated,
       {sql_round("CASE WHEN avg_value IS NOT NULL THEN avg_value "
                  "ELSE prev_val + (next_val - prev_val) * "
                  "((epoch_us(bucket) - epoch_us(prev_ts)) / "
                  " (epoch_us(next_ts) - epoch_us(prev_ts))) END", 6)} AS value_interp
FROM anchored
""",
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across gaps — the TimescaleDB ``interpolate``
    companion to ``ts_gapfill``'s locf: each missing hour gets the value
    on the straight line between its nearest observed neighbors.

    SCALE (plan_lint's registry-wide frame rule): forward anchors over a
    [CURRENT ROW, UNBOUNDED FOLLOWING] frame, which WindowExec evaluates
    by RESCANNING to the partition end per row — O(cells²) per user.
    Invisible on the fixtures (the partition is the hourly GRID, ≤720
    cells over the 30-day span — sfskew cannot grow it) but quadratic in
    the TIME SPAN at production scale (a decade of hours is 87k cells →
    7.6G rescans per user). Same cure as join_asof_nearest: the forward
    first(ignorenulls) is re-spelled as last(ignorenulls) over a
    DESC-ordered RUNNING frame — incrementally maintained, O(cells) —
    at the cost of one extra in-partition sort (same single exchange;
    the bucket is unique per (user, bucket) so the reversal is exact,
    no tie to break). The oracle keeps the forward-frame SQL: DuckDB's
    window engine evaluates it without the rescan, and the rule is
    pinned mechanically by plan_lint's fwd_unbounded_frame
    rule (empty exemption list) rather than by this one site.

    The gap ratio is a quotient of exact integer microsecond deltas, so
    it is bit-identical cross-engine; span endpoints are observations,
    so prev/next anchors always exist within the partition. Same
    users×hours cardinality bound as ts_gapfill at 100 TB."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(dec_avg(F.col("value")).alias("avg_value"))
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket"),
        )
    )
    wback = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # DESC running frame ≡ the forward [CURRENT ROW, UNBOUNDED FOLLOWING]
    # frame, evaluated incrementally instead of by per-row rescan.
    wfwd = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    observed_ts = F.when(F.col("avg_value").isNotNull(), F.col("bucket"))
    anchored = grid.join(hourly, ["user_id", "bucket"], "left").select(
        "user_id",
        "bucket",
        "avg_value",
        F.last("avg_value", ignorenulls=True).over(wback).alias("prev_val"),
        F.last(observed_ts, ignorenulls=True).over(wback).alias("prev_ts"),
        F.last("avg_value", ignorenulls=True).over(wfwd).alias("next_val"),
        F.last(observed_ts, ignorenulls=True).over(wfwd).alias("next_ts"),
    )
    ratio = (F.unix_micros("bucket") - F.unix_micros("prev_ts")) / (
        F.unix_micros("next_ts") - F.unix_micros("prev_ts")
    )
    interp = F.when(F.col("avg_value").isNotNull(), F.col("avg_value")).otherwise(
        F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * ratio
    )
    return anchored.select(
        "user_id",
        "bucket",
        F.col("avg_value").isNull().alias("interpolated"),
        hround(interp, 6).alias("value_interp"),
    )


@register(
    "anomaly_mad",
    oracle=f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, any_value(med) AS med, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       count(*)                                           AS n,
       {sql_round('any_value(m.med)', 4)}                 AS median_value,
       {sql_round('any_value(m.mad)', 4)}                 AS mad_value,
       CAST(count(*) FILTER (d.adev > 3 * 1.4826 * m.mad) AS BIGINT) AS n_outliers,
       {sql_round('count(*) FILTER (d.adev > 3 * 1.4826 * m.mad) / CAST(count(*) AS DOUBLE)', 6)} AS outlier_rate
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
""",
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection — the robust twin of
    anomaly_zscore (mean/stddev are themselves corrupted by the outliers
    they're meant to find; median/MAD are 50%-breakdown robust). Two exact
    medians = two distinct-value-histogram passes on event_type (see
    :mod:`operators.percentile` — aggregation state ∝ |value domain|,
    never group size; Spark's exact ``percentile`` would buffer whole
    corpus-sized groups), each followed by a broadcast join back to the
    stream. |distinct adev| ≤ |distinct value| per group (adev is
    |value − const|), so the second histogram is bounded by the same
    domain."""
    from mongodb_mysql_cdc_spark.operators.percentile import group_quantiles

    ev = load(spark, sf_dir, "events")
    med = group_quantiles(ev, ["event_type"], "value", {"med": 0.5})
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = group_quantiles(dev, ["event_type"], "adev", {"mad": 0.5}).join(
        F.broadcast(med), "event_type"
    )
    flagged = dev.select("event_type", "adev").join(F.broadcast(mad), "event_type")
    is_out = F.col("adev") > 3 * 1.4826 * F.col("mad")
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        hround(F.any_value("med"), 4).alias("median_value"),
        hround(F.any_value("mad"), 4).alias("mad_value"),
        F.sum(is_out.cast("long")).alias("n_outliers"),
        hround(F.sum(is_out.cast("long")) / F.count(F.lit(1)).cast("double"), 6).alias(
            "outlier_rate"
        ),
    )


# EWMA weight tables (found by the EXTREMES fixture): 0.7^j and the running
# weight sums, computed ONCE in Python and embedded as the SAME decimal
# literals in both spellings. Each engine's libm pow() may differ by
# ulps — invisible under 6-dec rounding at harness magnitudes (~1e2),
# but at the fixture's ±1e9 money the accumulated pow drift crossed the
# rounding boundary (…260327 vs …260328). A parsed decimal literal is
# correctly rounded to the SAME double by both engines, so with the
# weights pinned every remaining op (multiply, ordered fold, divide) is
# identical IEEE on identical inputs — bit-equal at any magnitude.
# Each element is CAST('<repr>' AS DOUBLE) — the STRING form, valid in
# BOTH dialects — so the literal parses straight to a correctly-rounded
# double. A bare decimal literal types as DECIMAL in both parsers and an
# unquoted CAST(x AS DOUBLE) still goes THROUGH the decimal: DuckDB's
# decimal→double conversion double-rounds 17-significant-digit values
# (int mantissa > 2^53 rounds once, the /10^s rounds again — measured 1
# ulp off on 1 of the 20 running-sum entries, the m=14 sum, matching the
# hazard tripwire in the string-cast property test), which is exactly the
# compat.py via-string rule. String→double is correctly rounded in both
# engines (shortest-repr round-trip), so the pinned weights are
# bit-identical.
_EWMA_W = [f"CAST('{0.7 ** j!r}' AS DOUBLE)" for j in range(20)]
_EWMA_DEN = [
    f"CAST('{sum(0.7 ** j for j in range(m))!r}' AS DOUBLE)" for m in range(1, 21)
]
_EWMA_W_SQL = "[" + ", ".join(_EWMA_W) + "]"
_EWMA_DEN_SQL = "[" + ", ".join(_EWMA_DEN) + "]"
_EWMA_W_SPARK = "array(" + ", ".join(_EWMA_W) + ")"
_EWMA_DEN_SPARK = "array(" + ", ".join(_EWMA_DEN) + ")"


@register(
    "ts_ewma",
    oracle=f"""
WITH raw AS (
  SELECT user_id, event_id, ts, value,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS rawvals
  FROM events
),
v AS (
  SELECT user_id, event_id, ts,
         list_filter(rawvals, x -> x IS NOT NULL) AS vals
  FROM raw
)
SELECT user_id, event_id, ts,
       CASE WHEN len(vals) = 0 THEN NULL ELSE
       {sql_round(f'''
         list_reduce(list_transform(range(1, len(vals) + 1),
                                    i -> vals[i] * ({_EWMA_W_SQL})[len(vals) - i + 1]),
                     (a, b) -> a + b)
         / ({_EWMA_DEN_SQL})[len(vals)]''', 6)} END AS ewma
FROM v
""",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized truncated EWMA (alpha=0.3, last-20-rows horizon) per
    user stream. Exact recursive EWMA needs unbounded (1-a)^-n terms that
    overflow doubles, so the standard streaming formulation truncates the
    horizon: weights (1-a)^distance over a 20-row frame, normalized by the
    weight sum (also what makes the warm-up rows well-defined). Spark has
    no weighted frame aggregate — the frame is materialized with
    collect_list() OVER (frame order = sort order, so the list is
    deterministic) and reduced with JVM-side higher-order functions; 20
    doubles per row, one shuffle on user_id. Mirrors DuckDB's list() OVER
    + list_reduce on the oracle side — a true cross-engine check of the
    same algebra in two HOF dialects. NULL shape: missing observations are SKIPPED — Spark's collect_list
    already drops them; the oracle list_filters to match (DuckDB's
    list() keeps NULL elements, which would null the whole reduce). An
    all-null frame yields NULL on both sides (explicit size guard —
    DuckDB's init-less list_reduce crashes on empty lists). Weights and
    their running sums are PINNED literal tables (see _EWMA_W above) —
    so cross-engine libm pow() drift cannot show at extreme magnitudes; the denominator is one table lookup, not a second fold."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    vals = F.collect_list("value").over(w)
    num = (
        "aggregate(zip_with(vals, sequence(1, size(vals)),"
        f" (v, i) -> v * element_at({_EWMA_W_SPARK}, size(vals) - i + 1)),"
        " 0D, (acc, x) -> acc + x)"
    )
    den = f"element_at({_EWMA_DEN_SPARK}, size(vals))"
    return (
        ev.select("user_id", "event_id", "ts", vals.alias("vals"))
        .select(
            "user_id",
            "event_id",
            "ts",
            F.when(
                F.size(F.col("vals")) > 0,
                hround(F.expr(num) / F.expr(den), 6),
            ).alias("ewma"),
        )
    )


@register(
    "ts_calendar_profile",
    oracle=f"""
WITH grid AS (
  SELECT event_type,
         dayofweek(ts) + 1 AS dow,
         hour(ts)          AS hod,
         count(*)          AS n,
         {sql_dec_avg('value')} AS avg_v
  FROM events
  GROUP BY ALL
)
SELECT event_type, CAST(dow AS BIGINT) AS dow, CAST(hod AS BIGINT) AS hod,
       n, {sql_round('avg_v', 6)} AS avg_value,
       CAST(row_number() OVER (PARTITION BY event_type
                               ORDER BY n DESC, dow, hod) AS BIGINT) AS busy_rank
FROM grid
""",
)
def ts_calendar_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar seasonality grid (day-of-week × hour-of-day per event
    type) with a busiest-slot rank — the load-profile query capacity
    planning runs on the replicated stream. One map-side-combined
    aggregate to a bounded 5×7×24 grid, then a window over ≤168 rows per
    type: corpus-scan-bound, grid-sized everything else."""
    ev = load(spark, sf_dir, "events")
    grid = ev.groupBy(
        "event_type",
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"), dec_avg(F.col("value")).alias("avg_v"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("dow"), F.col("hod")
    )
    return grid.select(
        "event_type",
        "dow",
        "hod",
        "n",
        hround(F.col("avg_v"), 6).alias("avg_value"),
        F.row_number().over(w).cast("long").alias("busy_rank"),
    )


@register(
    "ts_twap",
    oracle=f"""
WITH seg AS (
  SELECT user_id, ts, value,
         date_trunc('hour', ts) AS bucket,
         epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) - epoch_us(ts)
           AS dt_us
  FROM events
),
capped AS (
  SELECT user_id, bucket, value,
         least(dt_us, 3600000000) AS w
  FROM seg WHERE dt_us IS NOT NULL AND dt_us > 0
)
SELECT user_id, bucket,
       CAST(count(*) AS BIGINT) AS n_segments,
       {sql_round(f"({sql_grid_wsum('value', 'w', 2)}) / CAST(sum(w) AS DOUBLE)", 6)} AS twap
FROM capped
GROUP BY user_id, bucket
""",
)
def ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) per user-hour: each observation is
    weighted by how long it REMAINED the current value (interval to the
    next event, capped at an hour so a silent stream can't dominate) —
    the correct average for irregularly-sampled state, vs the
    sample-weighted avg that over-counts bursts. One window pass for the
    holding intervals (lead over the user timeline) + one grouped sum:
    the same single-shuffle profile as every timeline op here."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dt = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    seg = ev.select(
        "user_id",
        F.date_trunc("hour", "ts").alias("bucket"),
        "value",
        dt.alias("dt_us"),
    )
    capped = seg.where(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0)).select(
        "user_id", "bucket", "value", F.least("dt_us", F.lit(3_600_000_000)).alias("w")
    )
    return capped.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("n_segments"),
        # exact decimal-product numerator (grid_wsum: cents × integer µs
        # weight multiplied in DECIMAL(19,0) — a grid recovery of the
        # DOUBLE product value·w is inexact past 2^53 and its long cast
        # wraps at ±1e9 money × 3.6e9 µs ≈ 3.6e20) over an exact integer denominator: the
        # scale-stable weighted-mean contract at ANY money magnitude
        hround(
            grid_wsum(F.col("value"), F.col("w"), 2) / F.sum("w").cast("double"),
            6,
        ).alias("twap"),
    )


@register(
    "anomaly_cusum",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
),
folded AS (
  -- DuckDB quirk (found by divergence test): list_reduce evaluates the
  -- result-struct fields SEQUENTIALLY into the accumulator, so a later
  -- field that re-reads acc.s sees the UPDATED value. The fold is
  -- therefore written with 'm' first and never re-deriving 's'
  -- (greatest(acc.m, acc.s + x - k) == greatest(acc.m, s_new) given
  -- m >= 0 -- the inner max(0,·) is redundant under the running max).
  SELECT user_id, len(vals) AS n,
         list_reduce(
           list_prepend({{'m': 0.0, 's': 0.0}},
                        list_transform(vals, x -> {{'m': x, 's': x}})),
           (acc, e) -> {{'m': greatest(acc.m, acc.s + e.s - 55.0),
                         's': greatest(0.0, acc.s + e.s - 55.0)}}
         ) AS st
  FROM ordered
)
SELECT user_id, CAST(n AS BIGINT) AS n,
       {sql_round('st.s', 6)} AS final_cusum,
       {sql_round('st.m', 6)} AS max_cusum,
       st.m > 200.0 AS alarmed
FROM folded
""",
)
def anomaly_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change detection (upward shifts vs reference 55, alarm at
    200) — the third anomaly family member (zscore: global outliers,
    MAD: robust outliers, CUSUM: sustained SHIFTS). The recursion
    S_n = max(0, S_{{n-1}} + x_n - k) is inherently sequential — no
    window frame expresses it — so it runs as a higher-order fold over
    each user's time-ordered value list with a (state, running-max)
    struct accumulator: JVM-side in Spark, list_reduce in DuckDB (which
    seeds from the first element, hence the prepended zero-state
    sentinel). Per-user lists are history-bounded; one shuffle."""
    ev = load(spark, sf_dir, "events")
    ordered = (
        ev.select(
            "user_id",
            F.struct("ts", "event_id", F.col("value").cast("double").alias("v")).alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.transform(F.array_sort(F.collect_list("e")), lambda s: s["v"]).alias("vals")
        )
    )
    fold = F.aggregate(
        F.col("vals"),
        F.struct(F.lit(0.0).alias("m"), F.lit(0.0).alias("s")),
        lambda acc, x: F.struct(
            F.greatest(acc["m"], acc["s"] + x - 55.0).alias("m"),
            F.greatest(F.lit(0.0), acc["s"] + x - 55.0).alias("s"),
        ),
    )
    return (
        ordered.select("user_id", F.size("vals").cast("long").alias("n"), fold.alias("st"))
        .select(
            "user_id",
            "n",
            hround(F.col("st.s"), 6).alias("final_cusum"),
            hround(F.col("st.m"), 6).alias("max_cusum"),
            (F.col("st.m") > 200.0).alias("alarmed"),
        )
    )


@register(
    "ml_quantile_normalize",
    oracle=f"""
WITH ranked AS (
  SELECT event_type, value,
         percent_rank() OVER (PARTITION BY event_type ORDER BY value NULLS FIRST, event_id) AS u
  FROM events
),
bucketed AS (
  SELECT event_type, CAST(least(floor(u * 10), 9) AS BIGINT) AS decile,
         u, value
  FROM ranked
)
SELECT event_type, decile,
       CAST(count(*) AS BIGINT)      AS n,
       {sql_round('min(value)', 4)}  AS lo,
       {sql_round('max(value)', 4)}  AS hi,
       {sql_round('avg(u)', 6)}      AS mean_u
FROM bucketed
GROUP BY event_type, decile
""",
)
def ml_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization — the feature transform that maps
    any distribution onto uniform [0,1] (rank / N-1), then a per-decile
    census proving the flattening: every (type, decile) bucket holds
    ~n/10 rows REGARDLESS of the raw value distribution — the invariant
    is visible in the output, not just asserted. The rank comes from
    operators/ranking.py's distributed in-group position (range
    partition + broadcast offsets — a Window.partitionBy on the 5-value
    feature key would sort corpus/5 rows in ONE task per key); the
    unique event_id tiebreak keeps cross-engine rank order
    deterministic, and with a total order percent_rank is exactly
    (pos−1)/(n−1). NULL order pinned NULLS FIRST on both engines (the
    machinery's convention; DuckDB windows default NULLS LAST)."""
    from mongodb_mysql_cdc_spark.operators.ranking import with_group_position

    ev = load(spark, sf_dir, "events")
    pos = with_group_position(
        ev.select("event_type", "value", "event_id"),
        ["event_type"],
        ["value", "event_id"],
        "_pos",
    )
    n_tbl = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("_n"))
    ranked = pos.join(F.broadcast(n_tbl), "event_type").select(
        "event_type",
        "value",
        F.when(F.col("_n") == 1, F.lit(0.0))
        .otherwise((F.col("_pos") - 1).cast("double") / (F.col("_n") - 1))
        .alias("u"),
    )
    bucketed = ranked.select(
        "event_type",
        "value",
        "u",
        F.least(F.floor(F.col("u") * 10), F.lit(9)).cast("long").alias("decile"),
    )
    return bucketed.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        hround(F.min("value"), 4).alias("lo"),
        hround(F.max("value"), 4).alias("hi"),
        hround(F.avg("u"), 6).alias("mean_u"),
    )


@register(
    "ts_seasonal_residual",
    oracle=f"""
WITH base AS (
  SELECT event_id, value,
         hour(ts)            AS hod,
         dayofweek(ts) + 1   AS dow
  FROM events
),
hod_m AS (SELECT hod, {sql_dec_avg('value')} AS m_hod FROM base GROUP BY hod),
dow_m AS (SELECT dow, {sql_dec_avg('value')} AS m_dow FROM base GROUP BY dow),
grand AS (SELECT {sql_dec_avg('value')} AS m_all FROM base)
SELECT b.event_id, b.hod, b.dow,
       {sql_round('b.value - h.m_hod - d.m_dow + g.m_all', 6)} AS residual
FROM base b
JOIN hod_m h USING (hod)
JOIN dow_m d USING (dow)
CROSS JOIN grand g
""",
)
def ts_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition residuals (value − hour-of-day
    mean − day-of-week mean + grand mean) — the de-seasonalized signal
    anomaly detectors should run on instead of the raw stream (a Friday-
    evening spike is seasonality, not an incident). Three bounded mean
    tables (24 / 7 / 1 rows) broadcast back over one corpus scan — the
    canonical broadcast-stats shape, composing directly with
    anomaly_zscore/mad/cusum downstream."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "value",
        F.hour("ts").alias("hod"),
        F.dayofweek("ts").alias("dow"),
    )
    hod_m = base.groupBy("hod").agg(dec_avg(F.col("value")).alias("m_hod"))
    dow_m = base.groupBy("dow").agg(dec_avg(F.col("value")).alias("m_dow"))
    grand = base.agg(dec_avg(F.col("value")).alias("m_all"))
    return (
        base.join(F.broadcast(hod_m), "hod")
        .join(F.broadcast(dow_m), "dow")
        .crossJoin(F.broadcast(grand))
        .select(
            "event_id",
            "hod",
            F.col("dow").cast("long").alias("dow"),
            hround(
                F.col("value") - F.col("m_hod") - F.col("m_dow") + F.col("m_all"), 6
            ).alias("residual"),
        )
    )


@register(
    "ts_derivative",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_id, ts, value,
         lag(value) OVER w AS prev_v,
         lag(ts)    OVER w AS prev_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, ts,
       {sql_round('(value - prev_v) / ((epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0)', 6)}
         AS dv_dt
FROM seq
WHERE prev_ts IS NOT NULL AND epoch_us(ts) > epoch_us(prev_ts)
""",
)
def ts_derivative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate of change (dv/dt per user timeline — the derivative that
    turns a gauge stream into a rate stream, counters into throughput):
    one lag window on the apply path's own (user, time) ordering,
    zero-interval samples excluded (no 0-division row). Composes with
    ts_ewma/anomaly_* downstream exactly like the other timeline ops —
    one shuffle, frame state = one row."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_v"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    dt_s = (F.unix_micros("ts") - F.unix_micros("prev_ts")) / 1_000_000.0
    return seq.where(
        F.col("prev_ts").isNotNull()
        & (F.unix_micros("ts") > F.unix_micros("prev_ts"))
    ).select(
        "user_id",
        "event_id",
        "ts",
        hround((F.col("value") - F.col("prev_v")) / dt_s, 6).alias("dv_dt"),
    )


@register(
    "ts_max_drawdown",
    oracle=f"""
WITH curve AS (
  SELECT user_id, ts, event_id,
         sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT) - 5000)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS equity_c
  FROM events
),
peaks AS (
  SELECT user_id, equity_c,
         max(equity_c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak_c
  FROM curve
)
SELECT user_id,
       {sql_round('CAST(max(peak_c - equity_c) AS DOUBLE) / 100.0', 6)} AS max_drawdown,
       {sql_round('CAST(max(peak_c) AS DOUBLE) / 100.0', 6)}            AS high_water_mark,
       {sql_round('CAST(min(equity_c) AS DOUBLE) / 100.0', 6)}          AS trough
FROM peaks
GROUP BY user_id
""",
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown (peak-to-trough loss of a cumulative curve) —
    the canonical risk statistic, and a genuinely sequential one: it
    needs the running equity, its running maximum, AND the max gap
    between them — three nested cumulative views in ONE window pass
    (both cumulative windows share the same (user, ts) sort, so
    Catalyst plans a single exchange+sort like win_running_distinct).
    The synthetic equity curve is the centered-value cumsum per user.

    Exactness contract (found by the EXTREMES fixture): a DOUBLE running sum's
    association order differs between engines (Spark folds the frame
    sequentially, DuckDB may use a segment tree), so at ±1e9 money
    magnitudes the cancellation residue diverges in the 6th decimal.
    The curve is therefore accumulated in integer CENTS (the grid_sum
    recovery, centered on 5000 cents = 50.00) — running integer sums
    are association-free, so both engines agree bit-for-bit at any
    magnitude; the single /100.0 happens once at the end."""
    ev = load(spark, sf_dir, "events").repartition("user_id")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long") - 5000
    curve = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(cents).over(w).alias("equity_c"),
    )
    peaks = curve.select(
        "user_id",
        "equity_c",
        F.max("equity_c").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("peak_c"),
    )
    return peaks.groupBy("user_id").agg(
        hround(
            F.max(F.col("peak_c") - F.col("equity_c")).cast("double") / 100.0, 6
        ).alias("max_drawdown"),
        hround(F.max("peak_c").cast("double") / 100.0, 6).alias("high_water_mark"),
        hround(F.min("equity_c").cast("double") / 100.0, 6).alias("trough"),
    )


@register(
    "ts_autocorr",
    oracle=f"""
WITH lagged AS (
  SELECT event_type, value,
         lag(value) OVER (PARTITION BY event_type, user_id
                          ORDER BY ts, event_id) AS prev_v
  FROM events
)
SELECT event_type,
       CAST(count(prev_v) AS BIGINT) AS n_pairs,
       {sql_round('corr(value, prev_v)', 6)} AS lag1_autocorr
FROM lagged
GROUP BY event_type
""",
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation per event type (memory vs white noise — the
    first diagnostic before fitting any temporal model; ~0 here because
    the harness stream IS white noise, and that null result must agree
    across engines): one lag window on the per-user timeline, then a
    corr aggregate pairing each value with its predecessor. Window +
    map-combined agg; no extra shuffle beyond the timeline sort."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_type", "value", F.lag("value").over(w).alias("prev_v")
    )
    return lagged.groupBy("event_type").agg(
        F.count("prev_v").alias("n_pairs"),
        hround(F.corr("value", "prev_v"), 6).alias("lag1_autocorr"),
    )
