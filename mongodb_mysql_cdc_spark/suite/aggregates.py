"""§2.4 aggregations.

Scale notes (100 TB): every groupBy here runs as two-phase HashAggregate
(partial map-side → final), so shuffle volume is |groups|, not |rows|.
``collect_list`` is the one op whose state grows with group size — bounded
here by order size (≤7 lines); never use it on unbounded groups at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.functions.compat import (
    dec_avg,
    dec_sum,
    grid_corr,
    grid_stddev_samp,
    grid_var_samp,
    hround,
    sql_dec_avg,
    sql_dec_sum,
    sql_grid_corr,
    sql_grid_stddev_samp,
    sql_grid_var_samp,
    sql_round,
)
from mongodb_mysql_cdc_spark.registry import register

# Every corpus-group sum/avg of a money-grid double in this file
# runs on exact decimal partials (scale-stable comparison contract —
# functions/compat.py). Integral columns (l_quantity) keep double sums:
# integers sum exactly below 2^53 in any order.


@register(
    "agg_hash",
    oracle=f"""
SELECT event_type,
       {sql_dec_sum('value')}    AS sum_value,
       min(value)                AS min_value,
       max(value)                AS max_value,
       count(*)                  AS n
FROM events
GROUP BY event_type
""",
)
def agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        dec_sum(F.col("value")).alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_global",
    oracle=f"""
SELECT count(*)                        AS n_rows,
       {sql_round('sum(l_quantity)')}  AS total_qty,
       {sql_round(sql_dec_avg('l_extendedprice'), 4)} AS avg_price,
       min(l_shipdate)                 AS first_ship,
       max(l_shipdate)                 AS last_ship
FROM lineitem
""",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        hround(F.sum("l_quantity")).alias("total_qty"),
        hround(dec_avg(F.col("l_extendedprice")), 4).alias("avg_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@register(
    "agg_count_distinct",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS n_k
FROM events
GROUP BY event_type
""",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.get_json_object("props", "$.k").cast("long")).alias("n_k"),
    )


@register("agg_approx_distinct")  # HLL estimate — not hash-comparable: rows-only
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct — the 100 TB path where exact distinct would
    shuffle every key. rsd=0.01 keeps the sketch ~constant memory."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


@register(
    "agg_grouping_sets",
    oracle=f"""
SELECT r_name, n_name,
       count(*) AS n,
       {sql_dec_sum('s_acctbal')} AS total_bal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
HAVING count(*) > 0
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level grouping sets over the supplier geography (empty-input contract: see agg_rollup — the oracle's HAVING count(*) > 0 pins Spark's Expand semantics)."""
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    joined = sup.join(
        F.broadcast(nat), sup.s_nationkey == nat.n_nationkey
    ).join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    joined.createOrReplaceTempView("_gs_supplier_geo")
    return spark.sql(
        f"""
        SELECT r_name, n_name,
               count(*) AS n,
               {sql_dec_sum('s_acctbal')} AS total_bal
        FROM _gs_supplier_geo
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        """
    )


@register(
    "agg_rollup",
    oracle=f"""
SELECT r_name, n_name,
       count(*) AS n_customers,
       {sql_dec_sum('c_acctbal')} AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
HAVING count(*) > 0
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals region → nation → grand. nation/region are
    bounded dims (25/5 rows at ANY scale) — broadcast unconditionally.

    EMPTY-input contract (found by the EMPTY fixture, whole grouping
    family): Spark's Expand-based rollup/cube/grouping-sets emits NO rows
    on an empty relation — the ANSI ``()`` grouping set's grand-total row
    (count 0, NULL aggregates; DuckDB and PostgreSQL emit it) never forms
    because Expand has no input rows to expand. Pinned to Spark's
    semantics: the oracle adds ``HAVING count(*) > 0``, a provable no-op
    on any non-empty group (every grouping-set row aggregates ≥1 input
    row) that drops exactly the degenerate empty-input row."""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
    ).join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dec_sum(F.col("c_acctbal")).alias("total_bal"),
    )


@register(
    "agg_cube",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       {sql_round('sum(l_quantity)')} AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
HAVING count(*) > 0
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over returnflag x linestatus (empty-input contract: see agg_rollup — the oracle's HAVING count(*) > 0 pins Spark's Expand semantics)."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        hround(F.sum("l_quantity")).alias("sum_qty"),
    )


@register(
    "agg_having",
    oracle=f"""
SELECT o_custkey,
       count(*) AS n_orders,
       {sql_dec_sum('o_totalprice')} AS spend
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 12
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum(F.col("o_totalprice")).alias("spend"),
        )
        .filter(F.col("n_orders") >= 12)
    )


@register(
    "agg_collect",
    oracle="""
SELECT l_orderkey,
       array_to_string(list(l_linenumber ORDER BY l_linenumber), ',') AS line_numbers,
       coalesce(array_to_string(list(DISTINCT l_returnflag ORDER BY l_returnflag), ','), '') AS flags
FROM lineitem
GROUP BY l_orderkey
""",
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document re-assembly (inverse of flatten): gather group members into
    arrays. array_sort makes the result deterministic — collect_list order
    is partition-dependent.

    The arrays are emitted as a ','-joined string: array-typed result
    columns crash the driver's pandas canonicalizer (unhashable
    numpy.ndarray during sort/factorize), and the
    joined form hashes identically on both engines. NULL shape: both
    sides skip NULL elements (collect_set / array_to_string), but on an
    ALL-null group Spark joins an empty array to '' while DuckDB's
    array_to_string returns NULL — the oracle's coalesce pins '' as the
    contract."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("l_linenumber")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("line_numbers"),
        F.array_join(F.array_sort(F.collect_set("l_returnflag")), ",").alias("flags"),
    )


@register(
    "agg_stats",
    oracle=f"""
SELECT event_type,
       {sql_round(sql_grid_stddev_samp('value'), 4)} AS sd_value,
       {sql_round(sql_grid_var_samp('value'), 4)}    AS var_value,
       {sql_round(sql_grid_corr('value', 'user_id'), 4)} AS corr_vu,
       {sql_round('quantile_cont(value, 0.5)', 4)} AS median_value
FROM events
GROUP BY event_type
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics are O(1)-state aggregates, computed here from
    EXACT grid cross-sums (functions/compat.grid_var_samp family):
    built-in stddev/var/corr on doubles carry a merge-order ulp that a
    fixed-decimal comparison contract turns into phantom mismatches as
    the corpus grows (an sf1 AQE-off sweep caught this class) —
    the grid forms accumulate exact decimal Σc/Σc²/Σcu and evaluate one
    agreed IEEE formula on both engines. The median is NOT O(1) —
    Spark's exact ``percentile`` buffers every group member, and an
    event-type group grows with the corpus. It is computed instead via
    :mod:`operators.percentile`'s distinct-value histogram (state ∝
    |value domain|, exact same interpolated result — see that module),
    then broadcast-joined onto the 5-row moment table."""
    from mongodb_mysql_cdc_spark.operators.percentile import group_quantiles

    ev = load(spark, sf_dir, "events")
    moments = ev.groupBy("event_type").agg(
        hround(grid_stddev_samp(F.col("value")), 4).alias("sd_value"),
        hround(grid_var_samp(F.col("value")), 4).alias("var_value"),
        hround(grid_corr(F.col("value"), F.col("user_id")), 4).alias("corr_vu"),
    )
    med = group_quantiles(ev, ["event_type"], "value", {"med": 0.5})
    return moments.join(F.broadcast(med), "event_type", "left").select(
        "event_type",
        "sd_value",
        "var_value",
        "corr_vu",
        hround(F.col("med"), 4).alias("median_value"),
    )


@register(
    "agg_minmax_by",
    oracle="""
SELECT user_id,
       arg_max(event_id,   printf('%020d%012d', epoch_us(ts), event_id)) AS last_event_id,
       arg_max(event_type, printf('%020d%012d', epoch_us(ts), event_id)) AS last_event_type,
       arg_min(event_id,   printf('%020d%012d', epoch_us(ts), event_id)) AS first_event_id,
       max(ts)                AS last_ts
FROM events
GROUP BY user_id
""",
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row achieving the extremum — the CDC last-writer-wins primitive
    (latest image per key) as a plain aggregate.

    Tie contract (found by the TIES fixture): max_by/arg_max over a
    bare timestamp is NONDETERMINISTIC when several rows per key share
    the extremal ts — each engine (and each Spark merge order) may keep
    a different row. The ordering key is therefore the lexicographic
    composite (epoch_us(ts), event_id) rendered as one zero-padded
    string — the only composite-key form DuckDB's arg_max accepts
    (no STRUCT overload) — so the kept row is always the unique
    max/min-event_id row of the tie class on both engines.

    PRECONDITION: the zero-padded rendering is order-
    equivalent to (epoch_us(ts), event_id) only for NON-NEGATIVE values
    that fit the padding — lexicographic order inverts among negatives
    ('-…002' > '-…001' but -2 < -1) and an event_id wider than 12
    digits overflows its field. Holds for the harness domain (2024
    timestamps → epoch_us ≈ 1.7e15 ≥ 0; event_id ≤ ~1e7) and for any
    post-1970 feed with ids < 1e12; a pre-epoch or negative-id fixture
    must first bias both fields by a constant offset on BOTH engines."""
    ev = load(spark, sf_dir, "events")
    tie_key = F.format_string("%020d%012d", F.unix_micros("ts"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.max_by(F.col("event_id"), tie_key).alias("last_event_id"),
        F.max_by(F.col("event_type"), tie_key).alias("last_event_type"),
        F.min_by(F.col("event_id"), tie_key).alias("first_event_id"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "pivot_wide",
    oracle=f"""
SELECT l_returnflag,
       {sql_round("sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END)")} AS qty_f,
       {sql_round("sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END)")} AS qty_o,
       count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
       count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
FROM lineitem
GROUP BY l_returnflag
""",
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot with EXPLICIT value list — at 100 TB the value list
    must be declared (or sampled in a prior pass): an unlisted .pivot()
    triggers a full distinct scan before planning.  With values declared
    the plan is a single hash aggregate, identical to conditional sums —
    which is exactly the oracle's spelling."""
    li = load(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            hround(F.sum("l_quantity")).alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return wide.select(
        "l_returnflag",
        F.col("F_qty").alias("qty_f"),
        F.col("O_qty").alias("qty_o"),
        # a pivot cell with no rows is NULL in Spark but 0 under the
        # oracle's count(CASE ...) — coalesce so a data refresh that drops
        # one (returnflag, linestatus) combination can't flip the hash
        F.coalesce(F.col("F_n"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O_n"), F.lit(0)).alias("n_o"),
    )


@register(
    "unpivot_long",
    oracle="""
SELECT s_suppkey, metric, CAST(val AS DOUBLE) AS val
FROM (
  SELECT s_suppkey, 'acctbal' AS metric, s_acctbal AS val FROM supplier
  UNION ALL
  SELECT s_suppkey, 'nationkey', CAST(s_nationkey AS DOUBLE) FROM supplier
)
""",
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt). Spark's native unpivot is a zero-shuffle
    generator (each row expands locally) — the safe direction at any
    scale; the oracle is the classic UNION ALL spelling."""
    s = load(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey", "s_acctbal", F.col("s_nationkey").cast("double").alias("nationkey")
    ).withColumnRenamed("s_acctbal", "acctbal").unpivot(
        "s_suppkey", ["acctbal", "nationkey"], "metric", "val"
    )


@register("agg_approx_quantile")  # sketch estimate — not hash-comparable: rows-only
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style sketch) beside the exact percentile —
    the 100 TB path where exact quantiles would sort every group. The
    accuracy parameter bounds sketch memory; rows-only check (sketch
    internals differ across engines) with the exact columns as the sanity
    anchor. The two percentiles are unpacked into four SCALAR columns —
    array-typed output crashes the driver's pandas canonicalizer
    (unhashable numpy.ndarray)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)").alias("ap"),
        F.expr("percentile(l_extendedprice, array(0.5, 0.95))").alias("ep"),
    ).select(
        "l_returnflag",
        F.col("ap")[0].alias("p50_approx"),
        F.col("ap")[1].alias("p95_approx"),
        F.col("ep")[0].alias("p50_exact"),
        F.col("ep")[1].alias("p95_exact"),
    )


@register(
    "agg_histogram",
    oracle="""
SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin,
       count(*) AS n,
       CAST(floor(value / 10.0) AS BIGINT) * 10.0 AS bin_lo
FROM events
GROUP BY 1, 3
""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (the profiling primitive): bin = floor(x/w).
    One map-side-combined aggregate on the bin id — |bins| cardinality
    regardless of data size, the cheapest full-column distribution sketch
    at any scale."""
    ev = load(spark, sf_dir, "events")
    bin_id = F.floor(F.col("value") / 10.0).cast("long")
    return ev.groupBy(
        bin_id.alias("bin"), (bin_id * 10.0).alias("bin_lo")
    ).agg(F.count(F.lit(1)).alias("n")).select("bin", "n", "bin_lo")


@register(
    "agg_mode",
    oracle="""
SELECT event_type, user_id AS mode_user, n AS mode_count FROM (
  SELECT event_type, user_id, count(*) AS n,
         row_number() OVER (PARTITION BY event_type ORDER BY count(*) DESC, user_id) AS rn
  FROM events GROUP BY event_type, user_id
) WHERE rn = 1
""",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent user per event type): built-in
    mode() breaks frequency ties arbitrarily in BOTH engines, so the
    checked spelling is count + a deterministic argmax: max count,
    smallest user on ties — max_by over struct(n, -user_id), structs
    comparing lexicographically. Both aggregates are map-side combined
    with O(1) state; the earlier rank-window spelling put every distinct
    (type, user) count — ∝ users, corpus-growing — through one task per
    event type."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy("event_type").agg(
        F.max_by(
            "user_id", F.struct(F.col("n"), (-F.col("user_id")).alias("nu"))
        ).alias("mode_user"),
        F.max("n").alias("mode_count"),
    )


@register(
    "agg_boolean",
    oracle="""
SELECT event_type,
       bool_and(value >= 0)                    AS all_nonneg,
       bool_or(value > 90)                     AS any_high,
       count(CASE WHEN value > 50 THEN 1 END)  AS n_over_50,
       CAST(avg(CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END) * 100 AS DOUBLE) AS pct_over_50
FROM events
GROUP BY event_type
""",
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family (§2.4 breadth): every/any/count_if and a
    conditional percentage — the predicate-census primitives. avg of a
    0/1 double is exact here (sums of small integers in fp), so no
    rounding is needed for the percentage."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.every(F.col("value") >= 0).alias("all_nonneg"),
        F.some(F.col("value") > 90).alias("any_high"),
        F.count_if(F.col("value") > 50).alias("n_over_50"),
        (F.avg(F.when(F.col("value") > 50, 1.0).otherwise(0.0)) * 100).alias("pct_over_50"),
    )


@register(
    "agg_incremental_merge",
    oracle=f"""
SELECT event_type,
       count(*)                       AS n,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total,
       {sql_round('min(value)', 4)}   AS vmin,
       {sql_round('max(value)', 4)}   AS vmax,
       {sql_round('CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE) / count(*)', 4)} AS mean
FROM events
GROUP BY event_type
""",
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable partial-aggregate state — the incremental-rollup pattern:
    each ingest chunk keeps (count, sum, min, max) per group, and the
    global aggregate is a MERGE of partials, never a re-scan of history.
    The oracle is the DIRECT single-pass aggregate, so the check proves
    merge(partials) == direct — the algebraic property that makes the
    rollup maintainable at 100 TB (refreshing a day's partition re-reads
    one partition, not the table; the same property Spark's own two-phase
    hash aggregation relies on per shuffle).

    The mean is derived from merged (sum, count) at the END — never
    averaged-of-averages, the classic incremental-rollup bug.

    The running total is an EXACT decimal accumulator (value is a
    2-decimal grid — FIXTURES.md): a double sum rounded to 4 decimals
    is a contract that TIGHTENS with corpus size (the sum grows
    linearly, the 5e-5 absolute tolerance doesn't — it breaks around
    1000× harness scale; the same class the sf1 sweep caught in
    agg_product). Decimal partials merge exactly at any scale and are
    what a real incremental rollup over money-like values keeps."""
    ev = load(spark, sf_dir, "events")
    # deterministic "ingest chunk" stand-in
    chunked = ev.withColumn("chunk", F.col("event_id") % 8)
    partial = chunked.groupBy("event_type", "chunk").agg(
        F.count(F.lit(1)).alias("p_n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("p_sum"),
        F.min("value").alias("p_min"),
        F.max("value").alias("p_max"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("p_n").alias("n"),
        # exact decimal → double at the very END: both engines cast the
        # SAME exact number, so the doubles are bit-identical at any scale
        # (DuckDB's pandas bridge returns decimal sums as float64 anyway)
        F.sum("p_sum").cast("string").cast("double").alias("total"),
        hround(F.min("p_min"), 4).alias("vmin"),
        hround(F.max("p_max"), 4).alias("vmax"),
        hround(F.sum("p_sum").cast("string").cast("double") / F.sum("p_n"), 4).alias("mean"),
    )


@register(
    "agg_percentile_exact",
    oracle=f"""
SELECT event_type,
       {sql_round('percentile_cont(0.5)  WITHIN GROUP (ORDER BY value)', 6)} AS p50,
       {sql_round('percentile_cont(0.9)  WITHIN GROUP (ORDER BY value)', 6)} AS p90,
       {sql_round('percentile_cont(0.99) WITHIN GROUP (ORDER BY value)', 6)} AS p99
FROM events
GROUP BY event_type
""",
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (linear interpolation at rank (n-1)p) — the
    latency-SLO aggregate, checked against DuckDB's percentile_cont. The
    exact form buffers each group's values, so it pairs with
    agg_approx_quantile: exact where groups are bounded (5 event types),
    the t-digest/GK sketch where they are not — the same
    exact-vs-sketch trade as count_distinct vs HLL."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        hround(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        hround(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        hround(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


@register(
    "agg_regression",
    oracle=f"""
SELECT event_type,
       CAST(regr_count(value, epoch_us(ts) / 3600000000.0) AS BIGINT) AS n,
       {sql_round('regr_slope(value, epoch_us(ts) / 3600000000.0)', 6)} AS slope,
       {sql_round('regr_intercept(value, epoch_us(ts) / 3600000000.0) / 100000.0', 6)} AS intercept_1e5,
       {sql_round('regr_r2(value, epoch_us(ts) / 3600000000.0)', 6)} AS r2,
       {sql_round('regr_avgx(value, epoch_us(ts) / 3600000000.0)', 6)} AS avg_hours,
       {sql_round('regr_avgy(value, epoch_us(ts) / 3600000000.0)', 6)} AS avg_value
FROM events
GROUP BY event_type
""",
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (SQL2003 regr_* family) — per-type
    trend of value over time, the drift-monitoring read: slope and fit
    quality of value against the event's hour offset. Built-in JVM
    aggregates on both engines (one map-combined hash aggregate, fully
    two-phase mergeable — same scale shape as agg_hash).

    The x axis is microseconds/3.6e9 (hours as double) via unix_micros /
    epoch_us on the two engines — bit-identical inputs; unix_timestamp /
    epoch(ts) would disagree on sub-second parts. The intercept
    extrapolates ~472k hours back to epoch, amplifying each engine's
    summation-order ulps past six decimals, so it is emitted down-scaled
    (/1e5) to compare at the precision the estimate actually carries."""
    ev = load(spark, sf_dir, "events")
    x = (F.unix_micros("ts") / F.lit(3.6e9)).alias("x")
    pairs = ev.select("event_type", F.col("value").alias("y"), x)
    return pairs.groupBy("event_type").agg(
        F.expr("regr_count(y, x)").cast("long").alias("n"),
        hround(F.expr("regr_slope(y, x)"), 6).alias("slope"),
        hround(F.expr("regr_intercept(y, x)") / 100000.0, 6).alias("intercept_1e5"),
        hround(F.expr("regr_r2(y, x)"), 6).alias("r2"),
        hround(F.expr("regr_avgx(y, x)"), 6).alias("avg_hours"),
        hround(F.expr("regr_avgy(y, x)"), 6).alias("avg_value"),
    )


@register(
    "agg_count_if",
    oracle=f"""
SELECT l_returnflag,
       count(*) FILTER (l_discount > 0.05)                    AS n_discounted,
       count(*) FILTER (l_quantity >= 25)                     AS n_bulk,
       CAST(CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS DECIMAL(18,0))) FILTER (l_tax > 0.04) AS STRING) AS DOUBLE) / 100.0 AS taxed_revenue,
       {sql_round("avg(l_quantity) FILTER (l_linestatus = 'F')", 4)} AS avg_qty_f,
       max(l_shipdate) FILTER (l_returnflag = 'R')            AS last_return_ship
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_count_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregation family (count_if / FILTER-style conditional
    aggregates). Spark spells these count_if()/sum(CASE...); ANSI spells
    them FILTER clauses — semantically the map-side-combinable two-phase
    hash agg either way, so one shuffle of 3 groups at any scale."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.count_if(F.col("l_quantity") >= 25).alias("n_bulk"),
        dec_sum(F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice"))).alias(
            "taxed_revenue"
        ),
        hround(F.avg(F.when(F.col("l_linestatus") == "F", F.col("l_quantity"))), 4).alias(
            "avg_qty_f"
        ),
        F.max(F.when(F.col("l_returnflag") == "R", F.col("l_shipdate"))).alias(
            "last_return_ship"
        ),
    )


@register(
    "agg_percentile_disc",
    oracle="""
SELECT event_type,
       quantile_disc(value, 0.25) AS p25,
       quantile_disc(value, 0.50) AS p50,
       quantile_disc(value, 0.95) AS p95,
       count(*)                   AS n
FROM events
GROUP BY event_type
""",
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles: unlike the interpolating percentile_cont /
    percentile(), percentile_disc returns an actual element of the
    group, so the values are hash-identical across engines with no
    rounding guard — a sharper cross-engine check than the cont form
    (agg_percentile_exact). Computed on the distinct-value histogram
    kernel (smallest value with cume_dist ≥ q — the rule Spark's
    ``percentile_disc WITHIN GROUP`` and DuckDB's quantile_disc share;
    tests/test_percentile.py pins the kernel bit-equal to Spark's own
    aggregate), because the built-in, like every exact-percentile
    aggregate, buffers whole groups — state ∝ corpus at 100 TB, where
    the histogram is bounded by the value domain."""
    from mongodb_mysql_cdc_spark.operators.percentile import group_quantiles_disc

    ev = load(spark, sf_dir, "events")
    disc = group_quantiles_disc(
        ev, ["event_type"], "value", {"p25": 0.25, "p50": 0.50, "p95": 0.95}
    )
    n = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    return n.join(F.broadcast(disc), "event_type", "left").select(
        "event_type", "p25", "p50", "p95", "n"
    )


@register(
    "agg_moments",
    oracle=f"""
WITH mu AS (
  SELECT event_type, {sql_dec_avg('value')} AS mean_v FROM events GROUP BY event_type
),
cm AS (
  SELECT e.event_type,
         count(*)                          AS n,
         any_value(m.mean_v)               AS mean_v,
         avg(pow(e.value - m.mean_v, 2))   AS m2,
         avg(pow(e.value - m.mean_v, 3))   AS m3,
         avg(pow(e.value - m.mean_v, 4))   AS m4
  FROM events e JOIN mu m USING (event_type)
  GROUP BY e.event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       {sql_round('mean_v', 6)}                  AS mean_v,
       {sql_round('sqrt(m2)', 6)}                AS std_pop,
       {sql_round('m3 / pow(m2, 1.5)', 6)}       AS skew_g1,
       {sql_round('m4 / pow(m2, 2) - 3.0', 6)}   AS excess_kurtosis
FROM cm
""",
)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Central-moment statistics (population skewness g1 / excess
    kurtosis) computed from explicit two-pass moments rather than the
    built-in skewness()/kurtosis() — engines disagree on bias correction
    (sample vs population, g1 vs G1), so the formula is pinned once and
    evaluated identically on both sides; the pass-1 mean is the EXACT
    grid average (bit-identical across engines and layouts), so the
    centered powers see identical inputs — their own avg() keeps a
    merge-order ulp, within the 6dp contract by ~6 orders of magnitude
    at any plausible per-group size. Pass 1 is a 5-row mean table
    (broadcast back); pass 2 is one map-side-combined aggregate of three
    centered powers — two corpus scans, zero corpus-sized shuffles."""
    ev = load(spark, sf_dir, "events")
    mu = ev.groupBy("event_type").agg(dec_avg(F.col("value")).alias("mean_v"))
    dev = ev.join(F.broadcast(mu), "event_type").withColumn(
        "d", F.col("value") - F.col("mean_v")
    )
    cm = dev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.any_value("mean_v").alias("mean_v"),
        F.avg(F.pow("d", F.lit(2))).alias("m2"),
        F.avg(F.pow("d", F.lit(3))).alias("m3"),
        F.avg(F.pow("d", F.lit(4))).alias("m4"),
    )
    return cm.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        hround(F.col("mean_v"), 6).alias("mean_v"),
        hround(F.sqrt("m2"), 6).alias("std_pop"),
        hround(F.col("m3") / F.pow("m2", F.lit(1.5)), 6).alias("skew_g1"),
        hround(F.col("m4") / F.pow("m2", F.lit(2.0)) - 3.0, 6).alias("excess_kurtosis"),
    )


@register(
    "agg_weighted_median",
    oracle=f"""
WITH known AS (
  SELECT l_returnflag, l_extendedprice, l_quantity
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
tot AS (
  SELECT l_returnflag, sum(l_quantity) AS total_w
  FROM known GROUP BY l_returnflag
),
cum AS (
  SELECT l_returnflag, l_extendedprice,
         sum(l_quantity) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
                               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_w
  FROM known
)
SELECT c.l_returnflag,
       {sql_round('min(c.l_extendedprice)')} AS weighted_median_price,
       {sql_round('any_value(t.total_w)', 1)} AS total_weight
FROM cum c JOIN tot t USING (l_returnflag)
WHERE c.cum_w >= t.total_w / 2.0
GROUP BY c.l_returnflag
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (by quantity) — an aggregate NEITHER engine ships:
    the smallest price whose cumulative weight crosses half the group
    total. The RANGE frame (not ROWS) is the correctness subtlety: with
    duplicate prices a ROWS running sum is order-nondeterministic inside
    the tie run, while RANGE accumulates every peer at once, so the
    crossing price is well-defined on both engines. One window + one
    5-row broadcast join — the same two-pass shape as every robust
    statistic here. NULL contract: rows
    with a NULL price are excluded on BOTH engines before any weight
    accumulates — the median of the KNOWN prices; without the filter
    Spark's NULLS-FIRST window front-loads the null rows' weight while
    DuckDB's NULLS-LAST tail-loads it, shifting the crossing point."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").where(F.col("l_extendedprice").isNotNull())
    tot = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("total_w"))
    # collapse duplicate prices BEFORE the window: the cumulative weight at
    # each distinct price is unchanged (RANGE accumulates whole peer runs
    # anyway), but the window's input shrinks from |rows| to |distinct
    # prices| — and the pre-aggregate is a parallel map-side-combined
    # shuffle, where the window itself has only |groups| partitions (3
    # here: the serial bottleneck at 100 TB without this step — measured
    # 5.4x growth at 10x data before, ~linear after)
    collapsed = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.sum("l_quantity").alias("w_at_price")
    )
    # localCheckpoint: the machinery fans `collapsed` into two branches
    # (running sums + per-bucket totals); w_at_price is a float sum whose
    # shuffle-merge order is not bit-deterministic across re-executions,
    # so the offset a row receives could disagree by an ulp with its own
    # local running sum. One materialization pins both
    # branches to identical bytes; the frame is |distinct prices| rows —
    # bounded by the 2-decimal price domain, not the corpus.
    collapsed = collapsed.localCheckpoint(eager=True)
    # the cumulative weight over distinct prices is computed with the
    # distributed per-group cumsum (range partition on (flag, price) +
    # per-partition running sums + broadcast offsets) instead of a
    # Window.partitionBy(l_returnflag): a 3-value partition key means 3
    # tasks sort |distinct prices| rows each — bounded by the price
    # domain, but needlessly serial when operators/ranking.py spreads
    # the same total order across every core. Prices are unique within
    # a group after the collapse, so ROWS cumsum ≡ the RANGE frame.
    from mongodb_mysql_cdc_spark.operators.ranking import with_group_cumsum

    # boundary proxy: sample the RAW (flag, price) columns — a pruned
    # parquet scan — instead of running the machinery's boundary-sample
    # job over the collapse aggregation (measured 12.7× → ~4× at 100×
    # with two jobs over the collapse lineage; the sample is now one job
    # and `collapsed` is checkpointed above, but the pruned raw scan is
    # still the cheapest boundary source). The raw
    # distribution over-weights duplicated prices, which only shifts
    # bucket balance, never output.
    cum = with_group_cumsum(
        collapsed,
        ["l_returnflag"],
        ["l_extendedprice"],
        "w_at_price",
        "cum_w",
        boundary_df=li.select("l_returnflag", "l_extendedprice"),
    ).select("l_returnflag", "l_extendedprice", "cum_w")
    return (
        cum.join(F.broadcast(tot), "l_returnflag")
        .where(F.col("cum_w") >= F.col("total_w") / 2.0)
        .groupBy("l_returnflag")
        .agg(
            hround(F.min("l_extendedprice")).alias("weighted_median_price"),
            hround(F.any_value("total_w"), 1).alias("total_weight"),
        )
    )


@register("agg_hll_sketch")  # sketch estimates — rows-only (like approx_distinct)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL datasketches (hll_sketch_agg / hll_union_agg /
    hll_sketch_estimate — Spark's Apache DataSketches bindings): per
    event_type distinct-user estimates computed two ways — directly over
    the whole stream, and by UNIONING per-day partial sketches — plus
    the exact count. Mergeability is THE 100 TB property: partial
    sketches are tiny, shippable, and re-aggregatable across shards/
    days without rescanning (agg_incremental_merge's contract, now for
    cardinality). The sketch is deterministic for fixed data, so
    merged == direct exactly; rows-only here (DuckDB has no matching
    sketch), with tests/test_rows_only.py pinning merged==direct and
    the estimate within 5% of exact."""
    ev = load(spark, sf_dir, "events")
    direct = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias("direct_est"),
        F.count_distinct("user_id").alias("exact"),
    )
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("merged_est"),
        F.count(F.lit(1)).alias("n_partials"),
    )
    return direct.join(merged, "event_type").select(
        "event_type", "exact", "direct_est", "merged_est", "n_partials"
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_direct,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_merged
FROM events
GROUP BY event_type
""",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counting via bitmap aggregates
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
    bitmap_or_agg) — the precise sibling of agg_hll_sketch: per-shard
    bitmaps OR-merge losslessly, so exact cardinality re-aggregates
    across days/shards without a re-scan (what count(DISTINCT) can never
    do incrementally). Computed twice — directly, and by OR-merging
    per-day partial bitmaps — and the oracle pins BOTH to DuckDB's plain
    count(DISTINCT): the bitmap machinery must be invisible in the
    answer. Bitmap state is |buckets| × 4 KB per group — bounded,
    shippable, exact."""
    ev = load(spark, sf_dir, "events")
    direct = (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
            F.col("user_id"),
        )
        .groupBy("event_type", "bkt")
        .agg(F.expr("bitmap_count(bitmap_construct_agg(bitmap_bit_position(user_id)))").alias("c"))
        .groupBy("event_type")
        .agg(F.sum("c").cast("long").alias("n_direct"))
    )
    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
            "user_id",
        )
        .groupBy("event_type", "day", "bkt")
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"))
    )
    merged = (
        daily.groupBy("event_type", "bkt")
        .agg(F.expr("bitmap_count(bitmap_or_agg(bm))").alias("c"))
        .groupBy("event_type")
        .agg(F.sum("c").cast("long").alias("n_merged"))
    )
    return direct.join(merged, "event_type")


_PROD = "product(1.0 + l_discount / 10.0)"


@register(
    "agg_product",
    oracle=f"""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       {sql_round(f'{_PROD} / pow(10.0, floor(log10({_PROD})))', 6)} AS mantissa,
       CAST(floor(log10({_PROD})) AS BIGINT) AS exponent,
       {sql_round('sum(ln(1.0 + l_discount / 10.0))', 6)} AS log_compounded
FROM lineitem
WHERE l_linenumber = 1 AND l_orderkey % 50 = 0
GROUP BY l_returnflag
""",
)
def agg_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT aggregate (compounding factors — chained returns, survival
    probabilities): Spark has no product(), so the log-space form
    (sum∘ln — fully map-side combinable, overflow-free at any corpus
    size) is pinned against DuckDB's NATIVE product() plus DuckDB's own
    log-space sum. The product is reported as (mantissa, exponent) +
    the raw log — all three have corpus-size-INDEPENDENT relative
    precision. Rounding the product itself to 4 decimals would not do
    (an sf1 strict sweep showed it): the product grows exponentially
    with group size, so at 10× data (~1.1e12) that demands ~17 significant digits of cross-engine
    agreement where float64 holds ~16 — a comparison contract that
    silently tightens with scale. Positive domain by construction."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 50 == 0)
    )
    import math

    factor = 1.0 + F.col("l_discount") / 10.0
    sum_ln = F.sum(F.log(factor))
    log10p = sum_ln / math.log(10.0)
    expo = F.floor(log10p)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        hround(F.pow(F.lit(10.0), log10p - expo), 6).alias("mantissa"),
        expo.cast("long").alias("exponent"),
        hround(sum_ln, 6).alias("log_compounded"),
    )


@register(
    "agg_corr_matrix",
    oracle=f"""
SELECT
  {sql_round('corr(l_extendedprice, l_quantity)', 6)}  AS price_qty,
  {sql_round('corr(l_extendedprice, l_discount)', 6)}  AS price_disc,
  {sql_round('corr(l_extendedprice, l_tax)', 6)}       AS price_tax,
  {sql_round('corr(l_quantity, l_discount)', 6)}       AS qty_disc,
  {sql_round('corr(l_quantity, l_tax)', 6)}            AS qty_tax,
  {sql_round('corr(l_discount, l_tax)', 6)}            AS disc_tax
FROM lineitem
""",
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the fact table's numeric
    columns (the feature-screening pass before any model touches the
    data): all 6 pairs in ONE map-side-combined scan — the
    embedding_covariance design on relational columns. Near-zero
    correlations here are themselves the check: synthetic independence
    must survive both engines' summation orders (6dp)."""
    li = load(spark, sf_dir, "lineitem")
    pairs = [
        ("l_extendedprice", "l_quantity", "price_qty"),
        ("l_extendedprice", "l_discount", "price_disc"),
        ("l_extendedprice", "l_tax", "price_tax"),
        ("l_quantity", "l_discount", "qty_disc"),
        ("l_quantity", "l_tax", "qty_tax"),
        ("l_discount", "l_tax", "disc_tax"),
    ]
    return li.agg(
        *[hround(F.corr(a, b), 6).alias(n) for a, b, n in pairs]
    )


@register(
    "agg_entropy_diversity",
    oracle=f"""
WITH cnt AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY user_id, event_type
),
tot AS (
  SELECT user_id, sum(c) AS n FROM cnt GROUP BY user_id
)
SELECT c.user_id,
       CAST(any_value(t.n) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT)       AS n_types,
       {sql_round('-sum((c.c / CAST(t.n AS DOUBLE)) * ln(c.c / CAST(t.n AS DOUBLE)))', 6)}
         AS type_entropy
FROM cnt c JOIN tot t USING (user_id)
GROUP BY c.user_id
""",
)
def agg_entropy_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity via Shannon entropy of each user's event-type
    distribution (bot screening: single-type automatons score 0, uniform
    explorers score ln 5) — the categorical sibling of text_entropy's
    token entropy. Two map-combined aggregates on (user, type) and
    (user); the per-user type histogram is bounded by |types|, so at
    100 TB this is scan + two small shuffles, nothing row-expanding."""
    ev = load(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n").cast("double")
    return (
        cnt.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            F.any_value("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            hround(-F.sum(p * F.log(p)), 6).alias("type_entropy"),
        )
    )
