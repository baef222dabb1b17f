"""§2.3 joins — every strategy the engine supports.

Strategy notes (100 TB):
- broadcast: ONLY for dims bounded by the world (region=5, nation=25).
- sort-merge: the default for fact⋈fact (lineitem⋈orders); AQE converts
  to broadcast at runtime if one side turns out tiny, and splits skewed
  partitions.
- semi/anti: never materialize the right payload — Spark keeps only keys.
- theta/range: keep an equi-prefix in the condition (here: nationkey /
  band-bucket) so Catalyst hash-partitions on it and the inequality is a
  post-join filter, not a BNL cross product.
- as-of: see operators/joins.py — one shuffle, no pair explosion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.functions.compat import dec_sum, hround, sql_dec_sum, sql_round
from mongodb_mysql_cdc_spark.operators.joins import asof_join
from mongodb_mysql_cdc_spark.operators.partitioning import spread
from mongodb_mysql_cdc_spark.registry import register


@register(
    "join_inner_hash",
    oracle="""
SELECT o_orderkey, c_custkey, c_name, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'O'
""",
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_custkey", "c_name", "o_totalprice"
    )


@register(
    "join_broadcast",
    oracle="""
SELECT c_custkey, n_name, r_name
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
""",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim enrichment with explicit broadcast — zero shuffle of the fact."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )


@register(
    "join_sort_merge",
    oracle=f"""
SELECT l_orderkey, o_orderdate, count(*) AS n_lines,
       {sql_dec_sum('l_extendedprice')} AS order_value
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'F'
GROUP BY l_orderkey, o_orderdate
""",
)
def join_sort_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large⋈large: shuffle both sides on the key; MERGE hint pins the
    sort-merge strategy (spill-safe at any scale, unlike hash)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        li.hint("merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dec_sum(F.col("l_extendedprice")).alias("order_value"),
        )
    )


@register(
    "join_left",
    oracle="""
SELECT c_custkey, o_orderkey
FROM customer LEFT JOIN orders
  ON c_custkey = o_custkey AND o_totalprice > 450000
""",
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(
        o, (c.c_custkey == o.o_custkey) & (o.o_totalprice > 450000), "left"
    ).select("c_custkey", "o_orderkey")


@register(
    "join_right",
    oracle="""
SELECT o_orderkey, c_custkey
FROM orders RIGHT JOIN customer ON o_custkey = c_custkey AND o_orderstatus = 'P'
""",
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(
        c, (o.o_custkey == c.c_custkey) & (o.o_orderstatus == "P"), "right"
    ).select("o_orderkey", "c_custkey")


@register(
    "join_full",
    oracle="""
WITH rich AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000),
     big  AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 400000)
SELECT c_custkey, c_acctbal, o_orderkey, o_totalprice
FROM rich FULL JOIN big ON c_custkey = o_custkey
""",
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    rich = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_acctbal")
    )
    big = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    return rich.join(big, rich.c_custkey == big.o_custkey, "outer").select(
        "c_custkey", "c_acctbal", "o_orderkey", "o_totalprice"
    )


@register(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
SELECT p_partkey, p_name FROM part
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity >= 45
)
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts never shipped in bulk (NOT EXISTS). The >= 45 predicate keeps
    the result non-empty so the check is meaningful."""
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select(
        "p_partkey", "p_name"
    )


@register(
    "join_theta",
    oracle="""
SELECT a.s_suppkey AS sup_a, b.s_suppkey AS sup_b, a.s_nationkey AS natkey
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey AND a.s_acctbal > b.s_acctbal
""",
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi join with an equi-prefix: hash-partition on nationkey,
    inequality evaluated post-match — NOT a broadcast-nested-loop."""
    a = load(spark, sf_dir, "supplier").alias("a")
    b = load(spark, sf_dir, "supplier").alias("b")
    return a.join(
        b,
        (F.col("a.s_nationkey") == F.col("b.s_nationkey"))
        & (F.col("a.s_acctbal") > F.col("b.s_acctbal")),
    ).select(
        F.col("a.s_suppkey").alias("sup_a"),
        F.col("b.s_suppkey").alias("sup_b"),
        F.col("a.s_nationkey").alias("natkey"),
    )


@register(
    "join_range",
    oracle="""
WITH bands(band, lo, hi) AS (
  VALUES ('p25', 0.0, 25.0), ('p50', 25.0, 50.0), ('p75', 50.0, 75.0), ('p100', 75.0, 101.0)
)
SELECT event_id, band
FROM events JOIN bands ON value >= lo AND value < hi
""",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join against a tiny broadcast band table —
    the scalable shape: broadcast the intervals, never shuffle the fact."""
    ev = load(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("p25", 0.0, 25.0), ("p50", 25.0, 50.0), ("p75", 50.0, 75.0), ("p100", 75.0, 101.0)],
        "band string, lo double, hi double",
    )
    return ev.join(
        F.broadcast(bands),
        (ev.value >= bands.lo) & (ev.value < bands.hi),
    ).select("event_id", "band")


@register(
    "join_asof",
    oracle="""
WITH clicks AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, arg_max(event_id, event_id) AS purchase_event_id, ts AS pts
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
)
SELECT c.user_id, c.event_id, p.purchase_event_id
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.pts
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest purchase at-or-before each click per user (CDC temporal
    alignment). DuckDB's native ASOF JOIN is the oracle.

    Because both as-of sides come from the SAME table here, the generic
    union+window composition (operators/joins.py — two scans + a
    pre-aggregate shuffle + the window shuffle) fuses into its minimal
    plan: ONE events scan, ONE hash shuffle (the window). Rows are tagged
    in-place — purchases sort before clicks at equal ts (inclusive <=) and
    ascending event_id among same-ts purchases makes last() pick the max,
    which is exactly the pre-aggregate's max_by tie-break.

    NULL-key contract: the ASOF JOIN's
    ``ON c.user_id = p.user_id`` is null-REJECTING equality, but Spark's
    window PARTITION BY groups NULL keys into a real partition — so a
    NULL-user purchase must never supply a value (the isNotNull gate on
    ``_pv``); NULL-user clicks then fall through to NULL, exactly the
    unmatched LEFT-side behavior."""
    ev = load(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        "ts",
        (F.col("event_type") == "click").cast("int").alias("_side"),
        F.when(
            (F.col("event_type") == "purchase") & F.col("user_id").isNotNull(),
            F.col("event_id"),
        ).alias("_pv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "_side", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged.withColumn("purchase_event_id", F.last("_pv", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
        .select("user_id", "event_id", "purchase_event_id")
    )


@register(
    "join_self",
    oracle="""
SELECT user_id, event_id,
       lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id,
       date_diff('second',
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                 ts) AS gap_sec
FROM events
""",
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-event pairing per user. Expressed with lag() instead of
    a self-join: identical semantics, half the scan cost, one shuffle."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)).alias("gap_sec"),
    )


@register(
    "join_cross",
    oracle="""
SELECT r_name, n_name FROM region CROSS JOIN nation
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "join_null_safe",
    oracle="""
SELECT a.event_id AS id_a, b.event_id AS id_b, a.k
FROM (SELECT event_id, CAST(json_extract(props, '$.missing') AS BIGINT) AS k
      FROM events WHERE event_id < 200) a
JOIN (SELECT event_id, CAST(json_extract(props, '$.missing') AS BIGINT) AS k
      FROM events WHERE event_id < 200) b
  ON a.k IS NOT DISTINCT FROM b.k AND a.event_id < b.event_id
""",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other — the semantics MySQL's <=> gives a CDC key compare
    when documents lack the field. Extracting a missing JSON path makes
    every key NULL here, so the result is exactly the sub-quadratic
    null-block self-pairing; a plain equi-join would return zero rows.
    At scale the NULL block is the ultimate skew key: route it to a
    broadcast or salt it (join_salted) before using <=> on big data."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    keyed = ev.select(
        "event_id", F.get_json_object("props", "$.missing").cast("long").alias("k")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            F.col("a.k").eqNullSafe(F.col("b.k"))
            & (F.col("a.event_id") < F.col("b.event_id")),
        )
        .select(F.col("a.event_id").alias("id_a"), F.col("b.event_id").alias("id_b"),
                F.col("a.k").alias("k"))
    )


@register(
    "join_interval_overlap",
    oracle="""
SELECT a.o_orderkey AS order_a, b.o_orderkey AS order_b,
       a.o_custkey AS custkey,
       greatest(a.o_orderdate, b.o_orderdate) AS overlap_start
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
 AND a.o_orderdate < b.o_orderdate + INTERVAL 30 DAY
 AND b.o_orderdate < a.o_orderdate + INTERVAL 30 DAY
""",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal interval-overlap join (§2.3 beyond range/asof): pairs of
    the same customer's orders whose 30-day activity windows intersect —
    the classic 'concurrent validity' query (SCD2 intervals, session
    overlap, reservation conflicts all reduce to it).

    Scale discipline: the overlap predicate alone is a theta join
    (quadratic); the EQUI-conjunct on the entity key (o_custkey) makes it
    a hash join with the theta as a residual filter, so cost is bounded
    by per-entity interval counts. Global interval overlap (no entity
    key) would instead bucket time into stride-sized cells and equi-join
    on the cell — same trick as the LSH band join.

    EXHIBIT STATUS: output is quadratic in a hot entity BY CONTRACT (the
    oracle computes the same pairs — on the sfskew fixture both engines
    emit 68,584,839, verified by count parity). For production use the registered sibling
    join_interval_overlap_bounded — per-entity interval cap + `truncated`
    flag — which bounds work AND output. The probe side goes through the
    adaptive spread() with no keys (round-robin, and only when the scan is
    under-partitioned) so the sf-scale single-split scan doesn't serialize
    pair emission into one task (the other side broadcasts, so the
    repartition replaces no shuffle; on a hot key a HASH repartition would
    rebuild the single-task bomb)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    # Pin the build side: without the hint the planner may broadcast the
    # spread() side instead (both inputs are the same table) and the probe
    # would collapse back to one split. sf-scale only — at 100 TB neither
    # side broadcasts and the bounded sibling is the right operator.
    a, b = spread(o).alias("a"), F.broadcast(o).alias("b")
    month = F.expr("INTERVAL 30 DAYS")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("a.o_orderdate") < F.col("b.o_orderdate") + month)
            & (F.col("b.o_orderdate") < F.col("a.o_orderdate") + month),
        )
        .select(
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.col("a.o_custkey").alias("custkey"),
            F.greatest(F.col("a.o_orderdate"), F.col("b.o_orderdate")).alias(
                "overlap_start"
            ),
        )
    )


_OVERLAP_CAP = 20  # per-entity interval prefix: ≤ K·(K-1)/2 pairs per entity


@register(
    "join_interval_overlap_bounded",
    oracle=f"""
WITH ranked AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate NULLS FIRST, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_custkey) AS n
  FROM orders
),
kept AS (SELECT * FROM ranked WHERE rn <= {_OVERLAP_CAP})
SELECT a.o_orderkey AS order_a, b.o_orderkey AS order_b, a.o_custkey AS custkey,
       greatest(a.o_orderdate, b.o_orderdate) AS overlap_start,
       a.n > {_OVERLAP_CAP} AS truncated
FROM kept a JOIN kept b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
 AND a.o_orderdate < b.o_orderdate + INTERVAL 30 DAY
 AND b.o_orderdate < a.o_orderdate + INTERVAL 30 DAY
""",
)
def join_interval_overlap_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted interval-overlap join: join_interval_overlap with a
    per-entity interval cap, so work AND output are bounded on a whale
    key (the unbudgeted exhibit emits 68.6M pairs on the 50%-hot fixture,
    and a 100 TB whale makes unbudgeted pair emission a job-killer on ANY
    engine — same cure as dedup_ngram_jaccard's posting budget).

    Contract: each entity contributes only its first K=20 intervals by
    (o_orderdate, o_orderkey) — a deterministic prefix, so capped pairs
    are EXACT, never sampled — and every emitted pair of a capped entity
    carries ``truncated = true`` (the pair set is a lower bound there).
    ≤ K·(K-1)/2 pairs per entity: corpus-linear overall.

    Scale discipline — the prefix itself must not re-create the bomb: a
    bare row_number() over the entity key buffers the WHOLE hot entity
    in one task before the cap can drop anything (the same trap
    dedup_ngram_jaccard's df-cap avoids via groupBy). Two-phase prefix
    instead: (1) per-input-split top-K via map-side-combinable
    collect_list→sort→slice keyed on (entity, split id) — each task
    buffers at most its own split, correct because a global top-K row
    is top-K in its split; (2) global row_number over the ≤ K·splits
    survivors per entity — a bounded buffer at any scale. The split id
    never reaches the result, so the output is layout-invariant."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    n_tbl = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    local_topk = (
        o.withColumn("_split", F.spark_partition_id())
        .groupBy("o_custkey", "_split")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("o_orderdate", "o_orderkey"))),
                1,
                _OVERLAP_CAP,
            ).alias("cand")
        )
        .select("o_custkey", F.explode("cand").alias("c"))
        .select(
            "o_custkey",
            F.col("c.o_orderdate").alias("o_orderdate"),
            F.col("c.o_orderkey").alias("o_orderkey"),
        )
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    kept = (
        local_topk.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _OVERLAP_CAP)
        .drop("rn")
        .join(n_tbl, "o_custkey")  # both sides already hashed on the key
    )
    a, b = kept.alias("a"), kept.alias("b")
    month = F.expr("INTERVAL 30 DAYS")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("a.o_orderdate") < F.col("b.o_orderdate") + month)
            & (F.col("b.o_orderdate") < F.col("a.o_orderdate") + month),
        )
        .select(
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.col("a.o_custkey").alias("custkey"),
            F.greatest(F.col("a.o_orderdate"), F.col("b.o_orderdate")).alias(
                "overlap_start"
            ),
            (F.col("a.n") > _OVERLAP_CAP).alias("truncated"),
        )
    )


# Grid constants for the bucketed temporal probe. All integer microsecond
# math so both engines compute bit-identical cells/timestamps (no session-
# timezone dependency: unix_micros/epoch_us read the stored instant).
_TJ_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z — events epoch
_TJ_SHIP_EPOCH_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z — shipdate epoch
_TJ_WINDOW_US = 2_592_000_000_000  # 30 days — the events table's span
_TJ_GRID_US = 900_000_000  # 15-minute bucket stride
_TJ_LAST_CELL = _TJ_WINDOW_US // _TJ_GRID_US - 1  # probe ts < base+30d ⇒ ≤ 2879


@register(
    "join_interval_bucketed",
    oracle=f"""
WITH env AS (
  SELECT user_id AS key, ts, event_id AS seq,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
         value
  FROM events
),
hist AS (
  SELECT key, ts AS valid_from, seq, op, value,
         lead(ts) OVER (PARTITION BY key ORDER BY ts, seq) AS valid_to
  FROM env
),
versions AS (SELECT * FROM hist WHERE op <> 'd'),
probe AS (
  SELECT l_suppkey AS key, l_orderkey, l_linenumber,
         make_timestamp({_TJ_BASE_US} +
           (epoch_us(l_shipdate) - {_TJ_SHIP_EPOCH_US}) % {_TJ_WINDOW_US}) AS probe_ts
  FROM lineitem
)
SELECT p.key, p.l_orderkey, p.l_linenumber, p.probe_ts,
       v.seq AS state_seq, {sql_round('v.value', 4)} AS state_value
FROM probe p JOIN versions v
  ON v.key = p.key AND v.valid_from <= p.probe_ts
 AND (v.valid_to IS NULL OR p.probe_ts < v.valid_to)
""",
)
def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-bucketed point-in-time join for an EXTERNAL probe table —
    the general-purpose bounded interval join (the skew fixtures showed
    it is the one plan shape the others do not cover). join_temporal_scd2's
    window-collapse fix only works when the probe IS the envelope feed;
    here the probe is lineitem (ship events mapped onto the SCD2 key and
    time domain: l_suppkey ⊂ user_id at every sf, shipdate folded into
    the events month by integer-micros modulo), so no self-coverage
    argument exists and a plain key-equi-join with a residual interval
    filter would examine |versions(k)| × |probes(k)| pairs — quadratic
    on a hot key, and on sfskew the hot supplier and hot user are BOTH
    the min key, a deliberate double-hot stress.

    Plan: bucket time into 15-minute grid cells; explode each SCD2
    version into the cells it overlaps (closed versions span few cells;
    the open tail version is clamped to the probe window's last cell —
    a constant here because the probe ts is folded into the 30-day
    window by construction, one broadcast max-agg in the general case);
    probe rows hash to exactly ONE cell; equi-join on (key, cell) with
    the interval residual. Candidate pairs per key drop from
    |V|·|P| to Σ_cell V_cell·P_cell ≈ |V|·|P| / cells — the stride
    trades version-explode volume (keys × cells) against candidate
    volume; 15 min ≈ the geometric balance at this shape. Coverage is
    unique per probe row (zero-width versions are filtered; lead() makes
    intervals disjoint), so no dedup pass is needed. The oracle keeps
    the direct interval-join spelling: same rows, different plan."""
    from mongodb_mysql_cdc_spark.sources.cdc import events_as_envelopes
    from mongodb_mysql_cdc_spark.streaming.apply import scd2_versions

    exploded = (
        scd2_versions(events_as_envelopes(spark, sf_dir))
        .filter(F.col("key").isNotNull())
        # zero-width versions (closed at their own microsecond) cover
        # nothing — and guarantee cell_from ≤ cell_to below.
        .filter(F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from")))
        .withColumn(
            "_cf", F.expr(f"(unix_micros(valid_from) - {_TJ_BASE_US}) DIV {_TJ_GRID_US}")
        )
        .withColumn(
            "_ct",
            F.when(F.col("valid_to").isNull(), F.lit(_TJ_LAST_CELL)).otherwise(
                F.least(
                    F.expr(
                        f"(unix_micros(valid_to) - 1 - {_TJ_BASE_US}) DIV {_TJ_GRID_US}"
                    ),
                    F.lit(_TJ_LAST_CELL),
                )
            ),
        )
        .filter(F.col("_cf") <= F.col("_ct"))  # drops versions past the probe window
        .withColumn("cell", F.explode(F.sequence("_cf", "_ct")))
        .drop("_cf", "_ct")
    )
    li = load(spark, sf_dir, "lineitem")
    probe = (
        li.filter(F.col("l_suppkey").isNotNull() & F.col("l_shipdate").isNotNull())
        .select(
            F.col("l_suppkey").alias("key"),
            "l_orderkey",
            "l_linenumber",
            F.timestamp_micros(
                F.lit(_TJ_BASE_US)
                + (F.unix_micros("l_shipdate") - F.lit(_TJ_SHIP_EPOCH_US))
                % F.lit(_TJ_WINDOW_US)
            ).alias("probe_ts"),
        )
        .withColumn(
            "cell", F.expr(f"(unix_micros(probe_ts) - {_TJ_BASE_US}) DIV {_TJ_GRID_US}")
        )
    )
    return (
        probe.join(exploded, ["key", "cell"])
        .filter(
            (F.col("valid_from") <= F.col("probe_ts"))
            & (F.col("valid_to").isNull() | (F.col("probe_ts") < F.col("valid_to")))
        )
        .select(
            "key",
            "l_orderkey",
            "l_linenumber",
            "probe_ts",
            F.col("seq").alias("state_seq"),
            hround(F.col("value"), 4).alias("state_value"),
        )
    )


@register(
    "join_asof_forward",
    oracle="""
WITH clicks AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, arg_min(event_id, event_id) AS next_purchase_id, ts AS pts
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
)
SELECT c.user_id, c.event_id, p.next_purchase_id
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts <= p.pts
""",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: the EARLIEST purchase at-or-after each click — the
    attribution direction ("what did this click lead to"), mirror of the
    backward join_asof. Same fused single-scan shape, with the window
    running DESC so first-after fills backward. Tie contract (found by
    the TIES fixture): at equal ts the purchase must sort BEFORE the
    click in scan order or the inclusive <= match is silently dropped —
    ``_side`` therefore sorts ASCENDING (purchase=0 first) inside the
    DESC scan; ``F.desc("_side")`` would exclude the equal-ts purchase
    from the click's frame, a divergence invisible on unique-ts data. Among same-ts purchases event_id DESC makes last() pick
    the MIN event_id — exactly the pre-aggregate's arg_min tie-break.
    NULL-key contract: same isNotNull gate as join_asof — the ASOF JOIN
    equality never matches NULL user_ids, so a NULL-user purchase
    supplies no value."""
    ev = load(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        "ts",
        (F.col("event_type") == "click").cast("int").alias("_side"),  # click=1
        F.when(
            (F.col("event_type") == "purchase") & F.col("user_id").isNotNull(),
            F.col("event_id"),
        ).alias("_pv"),
    )
    # DESC over (ts, +side, -event_id): rows later in scan order are
    # earlier in time; last(_pv) = the nearest purchase with pts >= ts,
    # equal-ts purchases (side 0 < 1) entering the frame before the click.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.asc("_side"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged.withColumn("next_purchase_id", F.last("_pv", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
        .select("user_id", "event_id", "next_purchase_id")
    )


@register(
    "join_asof_nearest",
    oracle="""
WITH tagged AS (
  SELECT user_id, event_id, ts, (event_type = 'click') AS is_click,
         CASE WHEN event_type = 'purchase' THEN ts END AS p_ts
  FROM events WHERE event_type IN ('click', 'purchase')
),
scanned AS (
  SELECT user_id, event_id, ts, is_click,
         last_value(p_ts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_click, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
         first_value(p_ts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_click, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
  FROM tagged
)
SELECT user_id, event_id AS click_id, ts AS click_ts,
       CASE
         WHEN prev_ts IS NOT NULL AND epoch_us(ts) - epoch_us(prev_ts) <= 1800000000
              AND (next_ts IS NULL OR epoch_us(next_ts) - epoch_us(ts) > 1800000000
                   OR epoch_us(ts) - epoch_us(prev_ts) <= epoch_us(next_ts) - epoch_us(ts))
           THEN prev_ts
         WHEN next_ts IS NOT NULL AND epoch_us(next_ts) - epoch_us(ts) <= 1800000000
           THEN next_ts
       END AS nearest_purchase_ts,
       CAST((epoch_us(CASE
         WHEN prev_ts IS NOT NULL AND epoch_us(ts) - epoch_us(prev_ts) <= 1800000000
              AND (next_ts IS NULL OR epoch_us(next_ts) - epoch_us(ts) > 1800000000
                   OR epoch_us(ts) - epoch_us(prev_ts) <= epoch_us(next_ts) - epoch_us(ts))
           THEN prev_ts
         WHEN next_ts IS NOT NULL AND epoch_us(next_ts) - epoch_us(ts) <= 1800000000
           THEN next_ts
       END) - epoch_us(ts)) // 1000000 AS BIGINT) AS delta_sec
FROM scanned WHERE is_click
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join (±30 min tolerance, ties prefer the
    earlier match) — completes the asof family next to backward
    (join_asof) and forward (join_asof_forward). Same single-shuffle
    union+window shape as the other two: tag both sides, one window scan
    carrying last-purchase-before and first-purchase-after per row, then
    a row-local nearest pick. No pair explosion, no range join — at
    100 TB each user's timeline is one partition-local linear scan.
    Equal-ts purchase counts as backward (is_click sorts purchases first
    at a tied ts on both engines).

    The forward fill runs as a DESC-ordered RUNNING frame (the sfskew
    fixture shows why): Spark's WindowExec evaluates a
    [CURRENT ROW, UNBOUNDED FOLLOWING] frame by RESCANNING to the
    partition end per row — O(n²) in a partition, 6.6× wall on the
    50%-hot key at sf0.1 (9.2 s vs 1.4 s uniform). first_value over
    the forward frame ≡ last_value(ignorenulls) over the reversed
    running frame, which Spark maintains incrementally — O(n), same
    single exchange feeding both sorts (join_asof_forward already used
    this shape)."""
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        (F.col("event_type") == "click").alias("is_click"),
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("p_ts"),
    )
    order = [F.col("ts"), F.col("is_click"), F.col("event_id")]
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # reversed RUNNING frame ≡ [CURRENT ROW, UNBOUNDED FOLLOWING] under
    # the forward order, without WindowExec's per-row rescan (docstring)
    w_fwd_rev = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("is_click"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scanned = tagged.select(
        "user_id",
        "event_id",
        "ts",
        "is_click",
        F.last("p_ts", ignorenulls=True).over(w_back).alias("prev_ts"),
        F.last("p_ts", ignorenulls=True).over(w_fwd_rev).alias("next_ts"),
    )
    us = lambda c: F.unix_micros(F.col(c))  # noqa: E731 — LTZ post-catalog.load
    tol = 1_800_000_000  # 30 min in microseconds
    back_ok = F.col("prev_ts").isNotNull() & (us("ts") - us("prev_ts") <= tol)
    fwd_ok = F.col("next_ts").isNotNull() & (us("next_ts") - us("ts") <= tol)
    back_nearer = (
        F.col("next_ts").isNull()
        | (us("next_ts") - us("ts") > tol)
        | (us("ts") - us("prev_ts") <= us("next_ts") - us("ts"))
    )
    nearest = (
        F.when(back_ok & back_nearer, F.col("prev_ts"))
        .when(fwd_ok, F.col("next_ts"))
    )
    return scanned.where("is_click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        nearest.alias("nearest_purchase_ts"),
        # truncating cast, verified against the oracle: DuckDB's integer //
        # truncates toward zero on BIGINT operands (it is NOT a floor there),
        # matching Spark's double->long cast on negative deltas
        ((F.unix_micros(nearest) - us("ts")) / F.lit(1_000_000))
        .cast("long")
        .alias("delta_sec"),
    )


@register(
    "join_temporal_scd2",
    oracle=f"""
WITH env AS (
  SELECT user_id AS key, ts, event_id AS seq,
         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
         value
  FROM events
),
hist AS (
  SELECT key, ts AS valid_from, seq, value,
         lead(ts) OVER (PARTITION BY key ORDER BY ts, seq) AS valid_to
  FROM env
),
versions AS (
  SELECT * FROM hist WHERE NOT EXISTS (SELECT 1 FROM env e
    WHERE e.key = hist.key AND e.ts = hist.valid_from AND e.seq = hist.seq AND e.op = 'd')
),
clicks AS (
  SELECT user_id AS key, event_id, ts FROM events WHERE event_type = 'click'
)
SELECT c.key, c.event_id, c.ts,
       v.seq AS state_seq,
       {sql_round('v.value', 4)} AS state_value
FROM clicks c
JOIN versions v
  ON v.key = c.key
 AND v.valid_from <= c.ts
 AND (v.valid_to IS NULL OR c.ts < v.valid_to)
 AND NOT (v.valid_from = c.ts AND v.seq > c.event_id)
""",
)
def join_temporal_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (point-in-time) join against the SCD2 history: enrich
    each click with the state VERSION that was valid at click time —
    the query pattern that justifies keeping history next to current
    state. The oracle keeps the full interval-join spelling.

    SKEW (found by the sfskew fixture): a key-equi-join with a residual
    interval filter examines
    |versions(k)| × |clicks(k)| candidate pairs per key — quadratic in
    a hot key (the 50%-hot fixture measured 6.2× wall vs uniform data
    at sf0.1; a 100 TB whale key makes it a serial bomb). But because
    clicks are THEMSELVES envelopes of this feed, the covering version
    is provably always the click's own, so the join collapses to ONE
    window pass (linear per key, single shuffle). Proof against the
    oracle's predicate, for click c at (ts, seq=event_id):
    (1) an EARLIER version v (by the envelope (ts, seq) order) has
        valid_to = its next envelope's ts ≤ c.ts (the click's own
        envelope is at or after that next), so the strict
        c.ts < valid_to fails — no earlier version ever covers;
    (2) a LATER version has valid_from > c.ts (fails ≤), or
        valid_from = c.ts with seq > c.event_id (the boundary rule
        excludes it);
    (3) the click's OWN version (op 'u', never dropped by the 'd'
        filter; seq = event_id passes the boundary rule) covers iff
        it is not closed at the same microsecond — lead(ts) > ts —
        and NULL keys never match the oracle's null-rejecting
        equality. Verified empirically: state_seq == event_id on
        every row across sf0.01 / sf0.1 / sfskew / sfnull before the
        re-spell landed."""
    from mongodb_mysql_cdc_spark.sources.cdc import events_as_envelopes

    env = events_as_envelopes(spark, sf_dir)
    w = Window.partitionBy("key").orderBy("ts", "seq")
    return (
        env.withColumn("_nxt_ts", F.lead("ts").over(w))
        .where(
            (F.col("after.event_type") == "click")
            & F.col("key").isNotNull()
            & (F.col("_nxt_ts").isNull() | (F.col("_nxt_ts") > F.col("ts")))
        )
        .select(
            "key",
            F.col("seq").alias("event_id"),
            "ts",
            F.col("seq").alias("state_seq"),
            hround(F.col("after.value"), 4).alias("state_value"),
        )
    )
