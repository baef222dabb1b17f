"""§2.1 scans + §2.2 projection/filter/JSON-bridge queries.

The flagship ``pricing_summary`` is the M0 end-to-end slice (SURVEY.md §7):
scan → filter → project → hash-agg, the TPC-H Q1 shape on the harness
``lineitem``. At 100 TB this plan is: parquet scan with the shipdate
predicate pushed to row groups, partial aggregation map-side into 6 groups
(returnflag × linestatus), one tiny shuffle — the ideal Spark aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.functions.compat import (
    dec_avg,
    grid_sum,
    hround,
    sql_dec_avg,
    sql_grid_sum,
    sql_round,
)
from mongodb_mysql_cdc_spark.registry import register

# Exact comparison contract: l_quantity is integral (double sums
# exact to 2^53 — safe at any corpus size), but the money sums are
# corpus-sized accumulations of 2/4/6-decimal grids, so they run on the
# grid accumulator (exact integer recovery via pure double ops, long cast,
# decimal(18,0) partials — the scale-stable contract at near-double speed;
# see functions/compat.py grid notes). Grids: extprice is a 2-grid, ×
# (1-disc)(2-grid) → exact 4-grid product, × (1+tax)(2-grid) → 6-grid.
_DISC_EXPR = "l_extendedprice * (1 - l_discount)"
_CHARGE_EXPR = f"({_DISC_EXPR}) * (1 + l_tax)"

PRICING_SUMMARY_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_round('sum(l_quantity)')}                                       AS sum_qty,
  {sql_grid_sum('l_extendedprice', 2)}                                 AS sum_base_price,
  {sql_grid_sum(_DISC_EXPR, 4)}                                        AS sum_disc_price,
  {sql_grid_sum(_CHARGE_EXPR, 6)}                                      AS sum_charge,
  {sql_round('avg(l_quantity)', 4)}                                    AS avg_qty,
  {sql_round(sql_dec_avg('l_extendedprice'), 4)}                       AS avg_price,
  {sql_round(sql_dec_avg('l_discount', 4, 2), 4)}                      AS avg_disc,
  count(*)                                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", oracle=PRICING_SUMMARY_ORACLE)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan_parquet + filter_pred + project + agg_hash (TPC-H Q1 shape).

    Money sums are exact grid accumulators (scale-stable comparison
    contract at near-double speed — functions/compat.py grid notes);
    quantity stays a double sum (integral values sum exactly below 2^53)."""
    li = load(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            hround(F.sum("l_quantity")).alias("sum_qty"),
            grid_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            grid_sum(disc, 4).alias("sum_disc_price"),
            grid_sum(charge, 6).alias("sum_charge"),
            hround(F.avg("l_quantity"), 4).alias("avg_qty"),
            hround(dec_avg(F.col("l_extendedprice")), 4).alias("avg_price"),
            hround(dec_avg(F.col("l_discount"), 4, 2), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register("scan_parquet", oracle="SELECT r_regionkey, r_name FROM region")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare table scan (§2.1)."""
    return load(spark, sf_dir, "region")


@register(
    "project",
    oracle=f"""
SELECT
  c_custkey,
  c_name AS customer_name,
  {sql_round('c_acctbal * 1.1')} AS boosted_bal,
  upper(c_mktsegment) AS segment
FROM customer
""",
)
def project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column selection / renaming / derivation (§2.2)."""
    return load(spark, sf_dir, "customer").select(
        F.col("c_custkey"),
        F.col("c_name").alias("customer_name"),
        hround(F.col("c_acctbal") * 1.1).alias("boosted_bal"),
        F.upper("c_mktsegment").alias("segment"),
    )


@register(
    "filter_pred",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders
WHERE o_orderstatus IN ('F', 'O')
  AND o_totalprice BETWEEN 1000 AND 200000
  AND o_orderpriority LIKE '1-%'
  AND NOT (o_custkey IS NULL)
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
""",
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """σ with IN / BETWEEN / LIKE / AND-NOT / IS NULL (§2.2)."""
    o = load(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "O")
        & F.col("o_totalprice").between(1000, 200000)
        & F.col("o_orderpriority").like("1-%")
        & ~F.col("o_custkey").isNull()
        & (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


@register(
    "json_extract",
    oracle="""
SELECT
  event_id,
  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
  json_extract_string(props, '$.k') AS k_str
FROM events
""",
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from a JSON string column (§2.2) — the schemaless
    MongoDB → fixed MySQL schema bridge in miniature."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.get_json_object("props", "$.k").alias("k_str"),
    )


@register(
    "cast_types",
    oracle="""
SELECT
  l_orderkey,
  CAST(l_linenumber AS BIGINT)       AS line_no,
  CAST(l_quantity AS INTEGER)        AS qty_int,
  CAST(CAST(l_extendedprice AS DECIMAL(18, 2)) AS VARCHAR) AS price_dec,
  CAST(l_shipdate AS DATE)           AS ship_day,
  CAST(l_orderkey AS VARCHAR)        AS key_str
FROM lineitem
""",
)
def cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BSON→SQL style type coercions (§2.2 / SURVEY §1.2 type map).

    The DECIMAL(18,2) cast (the NumberDecimal→DECIMAL mapping under test)
    is re-emitted as VARCHAR on both sides: Spark collects ``Decimal``
    objects with trailing zeros while DuckDB's pandas path yields float64,
    so the decimal's *string* form is the only cross-engine-stable value."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("line_no"),
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.col("l_extendedprice").cast("decimal(18,2)").cast("string").alias("price_dec"),
        F.col("l_shipdate").cast("date").alias("ship_day"),
        F.col("l_orderkey").cast("string").alias("key_str"),
    )


@register(
    "null_handling",
    oracle="""
SELECT
  event_id,
  COALESCE(NULLIF(event_type, 'error'), 'n/a') AS safe_type,
  CASE WHEN value > 50 THEN 'high' WHEN value > 10 THEN 'mid' ELSE 'low' END AS band,
  GREATEST(value, 0.0) AS non_neg
FROM events
""",
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-field semantics: coalesce / nullif / case-when (§2.2)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("n/a")).alias("safe_type"),
        F.when(F.col("value") > 50, "high")
        .when(F.col("value") > 10, "mid")
        .otherwise("low")
        .alias("band"),
        F.greatest(F.col("value"), F.lit(0.0)).alias("non_neg"),
    )


@register(
    "flatten_struct",
    oracle="""
SELECT
  event_id,
  doc_user_id,
  doc_event_type,
  doc_k
FROM (
  SELECT event_id, user_id AS doc_user_id, event_type AS doc_event_type,
         CAST(json_extract(props, '$.k') AS BIGINT) AS doc_k
  FROM events
)
""",
)
def flatten_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-nest subdocument fields to top-level columns (§2.2) — builds a
    struct (the BSON subdocument stand-in) and flattens it back out with
    ``col("s.*")`` + prefix renaming, the core BSON→relational transform."""
    ev = load(spark, sf_dir, "events")
    nested = ev.select(
        "event_id",
        F.struct(
            F.col("user_id").alias("user_id"),
            F.col("event_type").alias("event_type"),
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        ).alias("doc"),
    )
    flat = nested.select("event_id", "doc.*")
    return flat.select(
        "event_id",
        F.col("user_id").alias("doc_user_id"),
        F.col("event_type").alias("doc_event_type"),
        F.col("k").alias("doc_k"),
    )
