"""Event-stream analytics: funnel conversion,
cohort retention, embedding normalization — the product-analytics queries
a CDC-replicated events table exists to answer (SURVEY §0: the sink side
of the pipeline is a warehouse; these are its canonical reads).

100 TB notes: every query here is one or two hash aggregates on
user-sized keys plus broadcast-scalar joins — no window over the full
stream, no driver collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.functions import vectors as V
from mongodb_mysql_cdc_spark.functions.compat import grid_sum, hround, sql_grid_sum, sql_round
from mongodb_mysql_cdc_spark.functions.compat import DISC_REV_SQL, disc_rev_dec
from mongodb_mysql_cdc_spark.operators.ranking import ntile_expr, with_global_position
from mongodb_mysql_cdc_spark.registry import register


@register(
    "funnel_conversion",
    oracle="""
WITH first_signup AS (
  SELECT user_id, min(ts) AS signup_ts
  FROM events WHERE event_type = 'signup'
  GROUP BY user_id
),
first_purchase AS (
  SELECT e.user_id, min(e.ts) AS purchase_ts
  FROM events e JOIN first_signup s
    ON e.user_id = s.user_id AND e.ts >= s.signup_ts
  WHERE e.event_type = 'purchase'
  GROUP BY e.user_id
)
SELECT s.user_id, s.signup_ts, p.purchase_ts,
       (p.purchase_ts IS NOT NULL
        AND p.purchase_ts <= s.signup_ts + INTERVAL 24 HOUR) AS converted_24h
FROM first_signup s LEFT JOIN first_purchase p ON s.user_id = p.user_id
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel: each user's first signup, their first purchase at
    or after it, and whether conversion happened within 24 h. Two
    map-combined aggregates + one join on user_id — at 100 TB both sides
    are user-cardinality (far smaller than the event stream) and
    co-partition on the same key."""
    ev = load(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(signup, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return signup.join(purchase, "user_id", "left").select(
        "user_id",
        "signup_ts",
        "purchase_ts",
        (
            F.col("purchase_ts").isNotNull()
            & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 24 HOURS"))
        ).alias("converted_24h"),
    )


@register(
    "retention_cohort",
    oracle="""
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
cohorts AS (
  SELECT user_id, min(day) AS cohort_day FROM user_days GROUP BY user_id
)
SELECT c.cohort_day,
       CAST(d.day - c.cohort_day AS BIGINT) AS day_offset,
       count(DISTINCT d.user_id) AS n_active
FROM user_days d JOIN cohorts c ON d.user_id = c.user_id
WHERE d.day - c.cohort_day <= 7
GROUP BY c.cohort_day, day_offset
""",
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-active day,
    counted on each of their next 7 active days. distinct user-days
    first (collapses the stream to user×day cardinality — the crucial
    pre-aggregation at 100 TB), then one self-joinable cohort table."""
    ev = load(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    cohorts = user_days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    offset = F.datediff("day", "cohort_day").cast("long")
    return (
        user_days.join(cohorts, "user_id")
        .filter(offset <= 7)
        .groupBy("cohort_day", offset.alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "embedding_normalize",
    oracle=f"""
SELECT vec_id,
       {sql_round(V.sql_norm('embedding'), 6)} AS l2_norm,
       {sql_round(f"CAST(embedding[1] AS DOUBLE) / {V.sql_norm('embedding')}", 6)} AS first_unit,
       {sql_round(f"list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)), (acc, x) -> acc + x) / {V.sql_norm('embedding')}", 6)} AS unit_sum
FROM embeddings
WHERE {V.sql_norm('embedding')} > 0
""",
)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization — the preprocessing step every cosine-based op
    assumes. The normalized vector itself is array-typed (driver
    canonicalizer can't hash arrays), so the check emits its invariants:
    the norm, the first unit component, and the unit-vector fold sum —
    any wrong element moves at least one of them. Zero-norm vectors are
    excluded (undefined direction). Pure HOF fold, zero shuffle.

    The unit sum is computed as (Σxᵢ)/‖x‖ on BOTH engines rather than
    Σ(xᵢ/‖x‖): dividing inside the fold would re-evaluate the norm per
    element (HOF lambdas get no CSE — the shingle lesson), and the two
    spellings differ in fp rounding, so the algebraic form must match
    the oracle exactly."""
    e = load(spark, sf_dir, "embeddings")
    nrm = V.norm("embedding")
    raw_sum = F.aggregate(
        V.to_double("embedding"), F.lit(0.0), lambda acc, x: acc + x
    )
    return e.filter(nrm > 0).select(
        "vec_id",
        hround(nrm, 6).alias("l2_norm"),
        hround(F.col("embedding").getItem(0).cast("double") / nrm, 6).alias("first_unit"),
        hround(raw_sum / nrm, 6).alias("unit_sum"),
    )


@register(
    "dq_profile",
    oracle="""
SELECT 'c_custkey' AS col_name, count(*) AS n_rows,
       count(*) - count(c_custkey) AS n_null, count(DISTINCT c_custkey) AS n_distinct,
       CAST(min(c_custkey) AS VARCHAR) AS min_val, CAST(max(c_custkey) AS VARCHAR) AS max_val
FROM customer
UNION ALL
SELECT 'c_name', count(*), count(*) - count(c_name), count(DISTINCT c_name),
       CAST(min(c_name) AS VARCHAR), CAST(max(c_name) AS VARCHAR) FROM customer
UNION ALL
SELECT 'c_nationkey', count(*), count(*) - count(c_nationkey), count(DISTINCT c_nationkey),
       CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR) FROM customer
UNION ALL
SELECT 'c_acctbal', count(*), count(*) - count(c_acctbal), count(DISTINCT c_acctbal),
       CAST(min(c_acctbal) AS VARCHAR), CAST(max(c_acctbal) AS VARCHAR) FROM customer
UNION ALL
SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment), count(DISTINCT c_mktsegment),
       CAST(min(c_mktsegment) AS VARCHAR), CAST(max(c_mktsegment) AS VARCHAR) FROM customer
""",
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profile (null rate / cardinality / bounds) — the
    first query a data-quality pass runs on a replicated table. ONE scan,
    one agg computing every column's metrics side by side, then a stack()
    to long form on the 1-row result — versus the naive per-column loop
    that rescans the table N_cols times (at 100 TB, a 5× scan saving).
    count(DISTINCT a), count(DISTINCT b), ... in one agg plans as a
    single Expand + two-phase agg — wide but still one pass."""
    c = load(spark, sf_dir, "customer")
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    aggs = []
    for col in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{col}__rows"),
            # count arithmetic, not sum(isNull): sum over ZERO rows is
            # NULL while the profile of an empty table must say 0 nulls
            # (matches the oracle spelling)
            (F.count(F.lit(1)) - F.count(F.col(col))).alias(f"{col}__null"),
            F.count_distinct(F.col(col)).alias(f"{col}__distinct"),
            F.min(col).cast("string").alias(f"{col}__min"),
            F.max(col).cast("string").alias(f"{col}__max"),
        ]
    one = c.agg(*aggs)
    stack_args = ", ".join(
        f"'{col}', {col}__rows, {col}__null, {col}__distinct, {col}__min, {col}__max"
        for col in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, n_rows, n_null, n_distinct, min_val, max_val)"
        )
    )


def _pagerank_oracle(iters: int = 3) -> str:
    """Chained-CTE power iteration — generated so the oracle's iteration
    count can never drift from the Spark loop's."""
    ctes = [
        """edges AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
dir AS (
  SELECT concat('c:', CAST(c AS VARCHAR)) AS src, concat('s:', CAST(s AS VARCHAR)) AS dst FROM edges
  UNION ALL
  SELECT concat('s:', CAST(s AS VARCHAR)), concat('c:', CAST(c AS VARCHAR)) FROM edges
),
nodes AS (SELECT DISTINCT src AS node FROM dir),
n AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM dir GROUP BY src),
r0 AS (SELECT node, 1.0 / n.n AS r FROM nodes CROSS JOIN n)"""
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""r{k} AS (
  SELECT d.dst AS node,
         0.15 / any_value(n.n) + 0.85 * sum(r{k - 1}.r / deg.deg) AS r
  FROM dir d
  JOIN r{k - 1} ON r{k - 1}.node = d.src
  JOIN deg ON deg.src = d.src
  CROSS JOIN n
  GROUP BY d.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, CAST(floor(r * 1e10 + 0.5) / 1e10 AS DOUBLE) AS rank FROM r{iters}"
    )


@register("graph_pagerank_iter", oracle=_pagerank_oracle())
def graph_pagerank_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 3 power iterations (d=0.85) over the customer↔supplier
    bipartite trade graph — the iterative-algorithm exhibit: each
    iteration is one join of the edge list against the current rank
    vector plus a grouped sum, expressed as a driver-side Python loop of
    3 DataFrame stages (Catalyst sees one 3-deep plan; no collect, no
    RDDs). Every node has in- and out-edges by construction (each edge is
    materialized in both directions), so no dangling-mass term is needed
    and the update is exactly r' = (1-d)/N + d·Σ r/deg. At 100 TB the
    edge list shuffles once per iteration on the join key — the same cost
    profile as a Pregel superstep; the rank vector stays
    |nodes|-sized. 10dp rounding absorbs the engines' summation-order
    ulps (|error| ~1e-19 against ranks ~1e-4)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    c = F.concat(F.lit("c:"), F.col("o_custkey").cast("string"))
    s = F.concat(F.lit("s:"), F.col("l_suppkey").cast("string"))
    dir_edges = edges.select(c.alias("src"), s.alias("dst")).unionByName(
        edges.select(s.alias("src"), c.alias("dst"))
    )
    deg = dir_edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # Pregel keeps the graph resident across supersteps; the DataFrame
    # equivalent is persisting the degree-annotated edge list. The node
    # count then comes FROM the warmed cache (every node has out-edges by
    # construction, so nodes == distinct src) — one derivation of the
    # base-table join total, instead of one per iteration plus one for N.
    contrib_edges = dir_edges.join(deg, "src").persist()
    nodes = contrib_edges.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.count()  # one scalar; the rank loop itself never collects
    if n_nodes == 0:
        # EMPTY graph: the 1/N seed is a
        # plan-time constant, so ANSI mode raises DIVIDE_BY_ZERO during
        # constant folding even though no row would evaluate it. PageRank
        # of an empty graph is the empty ranking on both engines.
        contrib_edges.unpersist()
        return spark.createDataFrame([], "node string, rank double")
    ranks = nodes.select("node", (F.lit(1.0) / n_nodes).alias("r"))
    for _ in range(3):
        ranks = (
            contrib_edges.join(ranks, contrib_edges.src == ranks.node)
            .groupBy("dst")
            .agg((F.lit(0.15) / n_nodes + 0.85 * F.sum(F.col("r") / F.col("deg"))).alias("r"))
            .select(F.col("dst").alias("node"), "r")
        )
    return ranks.select("node", hround(F.col("r"), 10).alias("rank"))


@register(
    "event_seq_pattern",
    oracle="""
WITH seq AS (
  SELECT user_id,
         string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
  FROM events
  GROUP BY user_id
)
SELECT user_id,
       length(s)                                          AS seq_len,
       CAST(len(regexp_extract_all(s, 's[cve]*p')) AS BIGINT) AS n_conversions,
       (s LIKE '%s%p%')                                   AS ever_converted,
       CAST(len(regexp_extract_all(s, 'ee+')) AS BIGINT)  AS error_bursts
FROM seq
""",
)
def event_seq_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern matching (the MATCH_RECOGNIZE stand-in):
    fold each user's stream into an ordered symbol string, then run
    regular expressions over it — signup→…→purchase conversions with no
    intervening signup/purchase, and repeated-error bursts. The fold is
    collect_list(struct(ts, event_id, sym)) + array_sort + transform
    (deterministic total order, no window pass); per-user strings are
    session-sized (bounded by a user's events, never the corpus), so the
    regex step is embarrassingly parallel after ONE shuffle on user_id."""
    ev = load(spark, sf_dir, "events")
    folded = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"), F.substring("event_type", 1, 1).alias("sym")
            ).alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("e")), lambda s: s["sym"]), ""
            ).alias("s")
        )
    )
    return folded.select(
        "user_id",
        F.length("s").cast("long").alias("seq_len"),
        F.size(F.regexp_extract_all("s", F.lit("s[cve]*p"), 0)).cast("long").alias(
            "n_conversions"
        ),
        F.col("s").like("%s%p%").alias("ever_converted"),
        F.size(F.regexp_extract_all("s", F.lit("ee+"), 0)).cast("long").alias(
            "error_bursts"
        ),
    )


@register(
    "analytics_shipping_priority",
    oracle=f"""
SELECT l.l_orderkey,
       {DISC_REV_SQL.format(p='l.')} AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15'
  AND l.l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
)
def analytics_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 adapted to the harness schema (no o_shippriority column):
    segment-filtered customers ⋈ date-filtered orders ⋈ shipdate-filtered
    lineitem → revenue per order → top 10. The composite exhibit: three
    pushed-down filters feed two shuffle joins whose smaller sides AQE
    can demote to broadcast, the aggregate is map-side combined on
    l_orderkey, and ORDER+LIMIT fuses to TakeOrderedAndProject — no full
    sort at any scale. Tie-broken on the key for determinism."""
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            disc_rev_dec().alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "analytics_local_supplier_volume",
    oracle=f"""
SELECT n.n_name,
       {DISC_REV_SQL.format(p='l.')} AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
)
def analytics_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 adapted (no date window — the harness order dates span
    one synthetic year): revenue customers generate through SAME-NATION
    suppliers, by nation, restricted to one region. Six-table join where
    the planner's job is ordering: region/nation broadcast (world-bounded
    dims), supplier broadcast under AQE, and the local-supplier condition
    (s_nationkey = c_nationkey) rides the supplier join as a second
    equi-key instead of a post-filter — Catalyst keeps it in the hash
    join. One corpus-sized shuffle pair (orders ⋈ lineitem); everything
    else is dimension traffic."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            disc_rev_dec().alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "dq_benford",
    oracle=f"""
WITH digits AS (
  SELECT CAST(floor(o_totalprice / pow(10, floor(log10(o_totalprice)))) AS BIGINT) AS d
  FROM orders WHERE o_totalprice > 0
),
obs AS (
  SELECT d, count(*) AS n FROM digits GROUP BY d
),
tot AS (SELECT sum(n) AS total FROM obs)
SELECT d,
       CAST(n AS BIGINT)                                   AS n,
       {sql_round('n / CAST(total AS DOUBLE)', 6)}         AS observed_p,
       {sql_round('log10(1.0 + 1.0 / d)', 6)}              AS benford_p,
       {sql_round('''(n / CAST(total AS DOUBLE) - log10(1.0 + 1.0 / d))
                     * (n / CAST(total AS DOUBLE) - log10(1.0 + 1.0 / d))
                     / log10(1.0 + 1.0 / d)''', 8)}        AS chi2_term
FROM obs CROSS JOIN tot
""",
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit — the fraud/synthetic-data
    forensic a DQ pass runs on monetary columns: observed leading-digit
    frequencies vs log10(1+1/d), with per-digit χ² contributions (the
    harness's uniform synthetic prices SHOULD flunk Benford — the test is
    that both engines flunk identically). First digit extracted
    arithmetically (floor(x/10^floor(log10 x)) — no string round trip),
    one 9-row aggregate + broadcast total."""
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    d = F.floor(
        F.col("o_totalprice") / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("long")
    obs = o.select(d.alias("d")).groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    obs_p = F.col("n") / F.col("total").cast("double")
    ben_p = F.log10(1.0 + 1.0 / F.col("d"))
    return obs.crossJoin(F.broadcast(tot)).select(
        "d",
        F.col("n").cast("long").alias("n"),
        hround(obs_p, 6).alias("observed_p"),
        hround(ben_p, 6).alias("benford_p"),
        hround((obs_p - ben_p) * (obs_p - ben_p) / ben_p, 8).alias("chi2_term"),
    )


@register(
    "analytics_rfm",
    oracle=f"""
WITH per_cust AS (
  SELECT o_custkey,
         max(o_orderdate)             AS last_order,
         count(*)                     AS frequency,
         {sql_grid_sum('o_totalprice')} AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, last_order, frequency, monetary,
         ntile(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
         ntile(5) OVER (ORDER BY frequency, o_custkey)  AS f_score,
         ntile(5) OVER (ORDER BY monetary, o_custkey)   AS m_score
  FROM per_cust
)
SELECT o_custkey,
       CAST(frequency AS BIGINT)       AS frequency,
       {sql_round('monetary')}         AS monetary,
       CAST(r_score AS BIGINT)         AS r_score,
       CAST(f_score AS BIGINT)         AS f_score,
       CAST(m_score AS BIGINT)         AS m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
            WHEN r_score >= 4 AND f_score >= 3                 THEN 'loyal'
            WHEN r_score <= 2 AND m_score >= 4                 THEN 'at_risk_big'
            WHEN r_score <= 2                                  THEN 'hibernating'
            ELSE 'regular' END AS segment
FROM scored
""",
)
def analytics_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles + rule
    bands) — the canonical warehouse customer-value query over the
    replicated orders table. One per-customer aggregate, then three
    GLOBAL quintile rankings, then a pure CASE banding. The naive
    spelling (`ntile(5) OVER (ORDER BY ...)` with no partition) moves
    every customer to ONE task (tools/plan_lint.py flags it), so the
    quintiles are
    computed with operators/ranking.distributed_ntile instead:
    range-partitioned parallel sort + per-partition row_number +
    broadcast cumulative offsets, bit-identical to ntile (unique-key
    tie-breaks make the order total, so partition boundaries can't
    change any rank) with no serial stage at any scale.

    ``monetary`` is a GRID sum, not a double sum (found by the PERMUTE
    fixture; no other machinery SORT KEY is a non-integer double
    aggregate): a double sum's value depends on addition order, so two
    customers with identical order histories (the ≈sf1 fixture's
    copy-twins) tie bit-exactly under one row layout but differ by an
    ulp under another — and when the quintile boundary lands inside
    that tie class, the m_score of the boundary pair flips with the
    LAYOUT. The o_totalprice values live on the 2-decimal money grid,
    so the decimal-cents accumulator makes ``monetary`` bit-identical
    under any row order on both engines and the (monetary, o_custkey)
    order genuinely total."""
    o = load(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        grid_sum(F.col("o_totalprice")).alias("monetary"),
    )
    # localCheckpoint: the three chained machinery calls each fan their
    # input into multiple re-executing plan branches (ranking.py
    # bit-determinism precondition). The grid sum already makes
    # `monetary` reorder-proof; one materialization still pins every
    # branch to the same bytes AND truncates the lineage the later
    # calls' branches re-execute.
    per = per.localCheckpoint(eager=True)
    # boundary_df=per: each call's boundary-sample job reads the
    # 1-job checkpoint instead of re-executing the previous calls' window
    # layers; boundaries affect only bucket balance, never positions.
    pos = with_global_position(per, ["last_order", "o_custkey"], "_p_r")
    pos = with_global_position(pos, ["frequency", "o_custkey"], "_p_f", boundary_df=per)
    pos = with_global_position(pos, ["monetary", "o_custkey"], "_p_m", boundary_df=per)
    total = per.agg(F.count(F.lit(1)).alias("_n"))
    n = F.col("_n")
    scored = pos.crossJoin(F.broadcast(total)).select(
        "o_custkey",
        "frequency",
        "monetary",
        ntile_expr(F.col("_p_r"), n, 5).alias("r_score"),
        ntile_expr(F.col("_p_f"), n, 5).alias("f_score"),
        ntile_expr(F.col("_p_m"), n, 5).alias("m_score"),
    )
    seg = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4), "champion")
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 3), "loyal")
        .when((F.col("r_score") <= 2) & (F.col("m_score") >= 4), "at_risk_big")
        .when(F.col("r_score") <= 2, "hibernating")
        .otherwise("regular")
    )
    return scored.select(
        "o_custkey",
        F.col("frequency").cast("long").alias("frequency"),
        hround(F.col("monetary")).alias("monetary"),
        F.col("r_score").cast("long").alias("r_score"),
        F.col("f_score").cast("long").alias("f_score"),
        F.col("m_score").cast("long").alias("m_score"),
        seg.alias("segment"),
    )


@register(
    "analytics_market_basket",
    oracle=f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey % 200 AS item
  FROM lineitem
),
n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM baskets),
item_supp AS (
  SELECT item, count(*) AS c FROM baskets GROUP BY item
),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS c_ab
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING count(*) >= 3
)
SELECT p.item_a, p.item_b, CAST(p.c_ab AS BIGINT) AS c_ab,
       {sql_round('p.c_ab / CAST(n.n AS DOUBLE)', 6)}            AS support,
       {sql_round('p.c_ab / CAST(sa.c AS DOUBLE)', 6)}           AS confidence,
       {sql_round('(p.c_ab * CAST(n.n AS DOUBLE)) / (sa.c * CAST(sb.c AS DOUBLE))', 6)} AS lift
FROM pairs p
JOIN item_supp sa ON sa.item = p.item_a
JOIN item_supp sb ON sb.item = p.item_b
CROSS JOIN n_orders n
""",
)
def analytics_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (support / confidence / lift over
    within-order item pairs) — the classic co-occurrence miner. Scale
    discipline mirrors the dedup family: items are bucketed (mod-200
    catalog groups), pairs come from an ORDER-KEYED equi-self-join
    (baskets are order-bounded, so the blow-up is per-basket-squared,
    never catalog-squared), the pair head is support-thresholded, and
    the item-support joins are broadcast (catalog-bounded). Lift > 1 =
    genuinely associated, not just popular."""
    li = load(spark, sf_dir, "lineitem")
    baskets = li.select(
        "l_orderkey", (F.col("l_partkey") % 200).alias("item")
    ).distinct().repartition(F.col("l_orderkey"))
    n_orders = baskets.agg(F.count_distinct("l_orderkey").alias("n"))
    item_supp = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    a = baskets.select("l_orderkey", F.col("item").alias("item_a"))
    b = baskets.select("l_orderkey", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 3)
    )
    sa = item_supp.select(F.col("item").alias("item_a"), F.col("c").alias("c_a"))
    sb = item_supp.select(F.col("item").alias("item_b"), F.col("c").alias("c_b"))
    return (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "item_a",
            "item_b",
            F.col("c_ab").cast("long").alias("c_ab"),
            hround(F.col("c_ab") / F.col("n").cast("double"), 6).alias("support"),
            hround(F.col("c_ab") / F.col("c_a").cast("double"), 6).alias("confidence"),
            hround(
                (F.col("c_ab") * F.col("n").cast("double"))
                / (F.col("c_a") * F.col("c_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "dq_table_diff",
    oracle=f"""
WITH altered AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 250 = 0 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus
  FROM orders
)
SELECT a.o_orderkey, 'o_totalprice' AS col_name,
       CAST(o.o_totalprice AS VARCHAR) AS old_val,
       CAST(a.o_totalprice AS VARCHAR) AS new_val
FROM orders o JOIN altered a USING (o_orderkey)
WHERE o.o_totalprice <> a.o_totalprice
UNION ALL
SELECT a.o_orderkey, 'o_orderstatus',
       o.o_orderstatus, a.o_orderstatus
FROM orders o JOIN altered a USING (o_orderkey)
WHERE o.o_orderstatus <> a.o_orderstatus
""",
)
def dq_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-level table diff (the CDC-validation regression report: which
    keys changed in which columns, old vs new) between a snapshot and a
    synthetically-altered replica. ONE keyed join + per-column compare
    stacked to long form — versus the naive per-column join loop that
    re-shuffles per column. At 100 TB both sides bucket on the key and
    the diff is a co-located join; the output is change-bounded, not
    table-bounded."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    altered = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 100 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("n_totalprice"),
        F.when(F.col("o_orderkey") % 250 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("n_orderstatus"),
    )
    j = o.join(altered, "o_orderkey")
    stacked = j.select(
        "o_orderkey",
        F.expr(
            "stack(2,"
            " 'o_totalprice', CAST(o_totalprice AS STRING), CAST(n_totalprice AS STRING),"
            " 'o_orderstatus', o_orderstatus, n_orderstatus)"
            " AS (col_name, old_val, new_val)"
        ),
    )
    return stacked.where(F.col("old_val") != F.col("new_val"))


@register(
    "analytics_pareto",
    oracle=f"""
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         percent_rank() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey) AS pr
  FROM orders
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_grid_sum('o_totalprice', 2)} AS total_revenue,
       {sql_grid_sum('CASE WHEN pr <= 0.1 THEN o_totalprice ELSE 0 END', 2)} AS top_decile_revenue,
       {sql_round(f"({sql_grid_sum('CASE WHEN pr <= 0.1 THEN o_totalprice ELSE 0 END', 2)})"
                  f" / ({sql_grid_sum('o_totalprice', 2)})", 6)} AS top_decile_share
FROM ranked
GROUP BY o_orderpriority
""",
)
def analytics_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration (the 80/20 report): what share of each
    priority band's revenue the top decile of orders captures — the
    revenue-concentration KPI behind account tiering. One ranking window
    per band (unique-key tiebreak) + one conditional rollup; at 100 TB
    the window shards by band exactly like analytics_rfm's quintiles.

    Revenue sums are EXACT grid accumulators (o_totalprice is a
    2-decimal grid — FIXTURES.md; compat.py grid notes): a double sum
    rounded to 2 decimals is a comparison contract that tightens with
    corpus size — the sf1 strict sweep caught exactly that
    (74789125840.49 vs .5, a one-ulp merge-order difference landing on a
    round-half boundary; same class as agg_product/agg_incremental_merge).
    Grid-integer partials merge exactly at any corpus size, so both
    engines derive the SAME double and the hash is scale-stable. The
    share divides the two exact sums — bit-identical inputs,
    bit-identical ratio."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.percent_rank().over(w).alias("pr"),
    )
    top = F.when(F.col("pr") <= 0.1, F.col("o_totalprice")).otherwise(0.0)
    agged = ranked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        grid_sum(F.col("o_totalprice"), 2).alias("total_revenue"),
        grid_sum(top, 2).alias("top_decile_revenue"),
    )
    return agged.select(
        "o_orderpriority",
        "n_orders",
        "total_revenue",
        "top_decile_revenue",
        hround(
            F.col("top_decile_revenue") / F.col("total_revenue"),
            6,
        ).alias("top_decile_share"),
    )
