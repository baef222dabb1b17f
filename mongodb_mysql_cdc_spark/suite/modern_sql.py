"""Spark 4 modern-SQL surface: recursive CTEs, the VARIANT type, SQL
UDFs, and collations — the features that separate a Spark-4-native
engine from a 3.x-era port. Each is checked against DuckDB's equivalent
construct (recursive CTE) or an inlined-semantics oracle (VARIANT /
SQL UDF / collation), so the mechanism under test is Spark's, while the
meaning is pinned cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.functions.compat import (
    dec_avg,
    DISC_REV_SQL,
    hround,
    sql_dec_avg_over,
    sql_dec_sum,
    sql_round,
)
from mongodb_mysql_cdc_spark.registry import register

# Synthetic hierarchy over customers: node n's parent is n DIV 2 (a binary
# tree rooted at 1; node 0 is excluded to keep the tree single-rooted).
# Both engines build the SAME closure over custkey < 512 (depth ≤ 8).
_RCTE_SQL = """
WITH RECURSIVE chain (custkey, root, depth) AS (
  SELECT c_custkey, c_custkey, 0
  FROM {customer} WHERE c_custkey = 1
  UNION ALL
  SELECT c.c_custkey, chain.root, chain.depth + 1
  FROM {customer} c
  JOIN chain ON c.c_custkey / 2 = chain.custkey
  WHERE c.c_custkey > 1 AND c.c_custkey < 512
)
SELECT depth,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(custkey) AS BIGINT) AS min_key,
       CAST(max(custkey) AS BIGINT) AS max_key
FROM chain
GROUP BY depth
"""


@register(
    "sql_recursive_cte",
    # DuckDB / on integers is FLOAT division — // is its integer form
    oracle=_RCTE_SQL.format(
        customer="(SELECT CAST(c_custkey AS BIGINT) AS c_custkey FROM customer)"
    ).replace("c.c_custkey / 2", "c.c_custkey // 2"),
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4's recursive CTE support) — transitive
    closure over a synthetic parent = key DIV 2 hierarchy on customer:
    per-depth census of the reachable tree. One SQL text, one dialect
    swap: integer division is DIV in Spark and // in DuckDB (plain / is
    float division in BOTH, which silently drops odd keys — caught by
    the hash compare, fixed by the swap). Each recursion step
    is one self-join against the frontier — on a cluster, the same
    iterative-join profile as graph_pagerank_iter, but driven by the
    engine's fixpoint operator instead of a driver loop."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey")
    )
    c.createOrReplaceTempView("rcte_customer")
    # Spark's integer / on BIGINT yields DOUBLE; DIV is the exact form.
    sql = _RCTE_SQL.format(customer="rcte_customer").replace(
        "c.c_custkey / 2", "c.c_custkey DIV 2"
    )
    return spark.sql(sql)


@register(
    "fn_variant",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT)   AS k_typed,
       json_extract_string(props, '$.k')            AS k_text,
       CAST(json_extract(props, '$.missing') AS BIGINT) AS absent,
       CAST(json_valid(props) AS BOOLEAN)           AS parses
FROM events
""",
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT type (Spark 4's semi-structured column format — the
    Mongo-document analogue Spark actually ships): parse once into the
    binary variant encoding, then typed variant_get extraction paths.
    Functionally equivalent to fn_json's string round trip, but the
    column STAYS variant-encoded between accesses (one parse, many
    reads — at 100 TB the difference between a scan-bound and a
    parse-bound pipeline). Oracle reads the same paths via DuckDB's JSON
    type."""
    ev = load(spark, sf_dir, "events")
    v = ev.select("event_id", F.parse_json("props").alias("v"))
    return v.select(
        "event_id",
        F.expr("variant_get(v, '$.k', 'bigint')").alias("k_typed"),
        F.expr("variant_get(v, '$.k', 'string')").alias("k_text"),
        F.expr("variant_get(v, '$.missing', 'bigint')").alias("absent"),
        F.expr("v IS NOT NULL").alias("parses"),
    )


@register(
    "fn_sql_udf",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
       {sql_round('l_extendedprice * (1 - l_discount)')} AS net_price,
       {sql_round('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS charged,
       CASE WHEN l_quantity >= 40 THEN 'bulk'
            WHEN l_quantity >= 15 THEN 'mid' ELSE 'small' END AS qty_band
FROM lineitem
""",
)
def fn_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UDFs (CREATE FUNCTION ... RETURN expr — Spark 4): the
    reference's per-row pricing helpers as catalog functions instead of
    copy-pasted expressions. Because the body is SQL, Catalyst INLINES it
    — the plan is identical to writing the expression by hand (checked by
    the oracle, which does exactly that), so abstraction costs zero at
    any scale — unlike a Python UDF with the same signature."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charged(p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - d) * (1 + t)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION qty_band(q DOUBLE) RETURNS STRING "
        "RETURN CASE WHEN q >= 40 THEN 'bulk' WHEN q >= 15 THEN 'mid' ELSE 'small' END"
    )
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("sqludf_lineitem")
    return spark.sql(
        f"""
SELECT l_orderkey, l_linenumber,
       {sql_round('net_price(l_extendedprice, l_discount)')} AS net_price,
       {sql_round('charged(l_extendedprice, l_discount, l_tax)')} AS charged,
       qty_band(l_quantity) AS qty_band
FROM sqludf_lineitem
"""
    )


@register(
    "fn_collation",
    oracle="""
WITH mixed AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 3 = 0 THEN upper(p_brand)
              WHEN p_partkey % 3 = 1 THEN p_brand
              ELSE lower(p_brand) END AS brand_mixed
  FROM part
)
SELECT lower(brand_mixed) AS brand_ci,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT brand_mixed) AS BIGINT) AS n_case_variants
FROM mixed
GROUP BY lower(brand_mixed)
""",
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 collations): group a mixed-case
    brand column under UTF8_LCASE so 'BRAND#12' / 'Brand#12' / 'brand#12'
    collapse WITHOUT rewriting the data through lower() — the collation
    travels with the type, and comparisons/aggregations anywhere
    downstream inherit it (at scale: no double-materialized case-folded
    copy of every string column). The oracle pins the semantics with
    explicit lower(); the output key is case-folded on both sides so the
    hash compare sees identical bytes."""
    p = load(spark, sf_dir, "part")
    mixed = p.select(
        "p_partkey",
        F.when(F.col("p_partkey") % 3 == 0, F.upper("p_brand"))
        .when(F.col("p_partkey") % 3 == 1, F.col("p_brand"))
        .otherwise(F.lower("p_brand"))
        .alias("brand_mixed"),
    )
    ci = mixed.select(
        F.expr("brand_mixed COLLATE UTF8_LCASE").alias("brand_ci"),
        F.col("brand_mixed"),
    )
    return (
        ci.groupBy("brand_ci")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.expr("brand_mixed COLLATE UTF8_BINARY")).alias(
                "n_case_variants"
            ),
        )
        .select(
            F.lower(F.col("brand_ci").cast("string")).alias("brand_ci"),
            "n",
            "n_case_variants",
        )
    )


@register(
    "sql_parameterized",
    oracle=f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       {sql_dec_sum('o_totalprice')} AS revenue
FROM orders
WHERE o_totalprice >= 50000.0 AND o_orderstatus = 'O'
GROUP BY o_orderpriority
""",
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (spark.sql(..., args=...)): named parameters
    bind as LITERALS in the parse tree — injection-safe templating with
    zero string concatenation, and the plan is identical to inlining the
    constants (so parameter reuse hits the plan cache at scale). The
    oracle IS the inlined form."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("param_orders")
    return spark.sql(
        f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       {{rounded}} AS revenue
FROM param_orders
WHERE o_totalprice >= :min_price AND o_orderstatus = :status
GROUP BY o_orderpriority
""".format(rounded=sql_dec_sum("o_totalprice")),
        args={"min_price": 50000.0, "status": "O"},
    )


@register(
    "fn_timezone",
    oracle="""
SELECT event_id,
       CAST(timezone('America/New_York', ts AT TIME ZONE 'UTC') AS TIMESTAMP) AS ts_nyc,
       CAST(timezone('Asia/Tokyo',       ts AT TIME ZONE 'UTC') AS TIMESTAMP) AS ts_tokyo,
       CAST(date_part('hour', timezone('America/New_York', ts AT TIME ZONE 'UTC')) AS BIGINT) AS nyc_hour
FROM events
""",
)
def fn_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-timezone conversion (convert_timezone) — the DST-aware wall
    clock math a global events table needs (NYC offset changes mid-year;
    a fixed-offset shift silently breaks half the year). Both engines
    resolve against the IANA tzdb, so the check also pins that the two
    runtimes agree on the zone rules for the harness's date range."""
    ev = load(spark, sf_dir, "events")
    nyc = F.convert_timezone(F.lit("UTC"), F.lit("America/New_York"), F.col("ts"))
    tokyo = F.convert_timezone(F.lit("UTC"), F.lit("Asia/Tokyo"), F.col("ts"))
    return ev.select(
        "event_id",
        nyc.alias("ts_nyc"),
        tokyo.alias("ts_tokyo"),
        F.hour(nyc).cast("long").alias("nyc_hour"),
    )


@register(
    "sql_pipe_syntax",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       {DISC_REV_SQL.format(p='')} AS revenue
FROM lineitem
WHERE l_quantity >= 10
GROUP BY l_returnflag, l_linestatus
""",
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (|> — Spark 4's linear query composition): the
    same logical plan as the nested SELECT, written as a top-to-bottom
    dataflow. Parses to IDENTICAL plans (the oracle is the classic
    spelling), so the feature is pure ergonomics — included because a
    'complete modern-Spark surface' claim is checkable only if the new
    grammar actually runs here."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("pipe_lineitem")
    return spark.sql(
        f"""
FROM pipe_lineitem
|> WHERE l_quantity >= 10
|> AGGREGATE count(*) AS n,
             {DISC_REV_SQL.format(p='')} AS revenue
   GROUP BY l_returnflag, l_linestatus
|> SELECT l_returnflag, l_linestatus, n, revenue
"""
    )


# Window-form exact grid average for the QUALIFY oracle — the same
# value dec_avg computes aggregate-side: exact decimal cent sum via
# string to a bit-identical double, /scale, /count. 6-dec-rounded double
# averages are a scale-unstable comparison contract (an sf1 AQE-off sweep
# showed it); with an EXACT average the
# QUALIFY predicate compares raw doubles identically on both engines.
# Derived from compat.sql_dec_avg_over so the aggregate and window
# spellings of the exact average move in lockstep.
_QUALIFY_DEC_AVG = sql_dec_avg_over("value", "event_type")


@register(
    "sql_qualify",
    oracle=f"""
SELECT event_type, event_id, value,
       {_QUALIFY_DEC_AVG} AS type_avg
FROM events
QUALIFY value > {_QUALIFY_DEC_AVG}
""",
)
def sql_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse QUALIFY idiom — filter on a WINDOW aggregate
    (events beating their type's average), which WHERE can't express
    (window not yet computed) and HAVING can't either (no grouping).
    DuckDB/Snowflake/BigQuery spell it QUALIFY; Spark has no QUALIFY
    clause. The naive translation is avg() OVER (PARTITION BY
    event_type) + filter — but event_type has FIVE values, so that
    window is five reducer tasks at any scale (AQE cannot split window
    partitions). Because the window carries no ordering, the scale-safe
    translation is exact: per-type averages as a map-combined hash
    aggregate (5 rows) broadcast back onto the corpus, filter evaluated
    in the scan stage — fully parallel, zero WindowExec. The oracle
    keeps the QUALIFY spelling, proving the two forms equivalent. The
    average is the EXACT grid accumulator (functions/compat.dec_avg;
    the oracle spells the same value as a window over decimal cent
    sums): a 6dp-rounded double average is a scale-unstable comparison
    contract — a merge-order ulp can flip the rounding and with it a
    row's QUALIFY membership (an sf1 AQE-off sweep caught this class in
    ts_calendar_profile). With bit-identical
    averages on both engines the strict > compares raw doubles
    safely."""
    ev = load(spark, sf_dir, "events")
    avgs = ev.groupBy("event_type").agg(dec_avg(F.col("value")).alias("_type_avg"))
    return (
        ev.join(F.broadcast(avgs), "event_type")
        .filter(F.col("value") > F.col("_type_avg"))
        .select(
            "event_type", "event_id", "value",
            F.col("_type_avg").alias("type_avg"),
        )
    )
