"""§2.1 aux ingest formats + sink modes: read_json / read_csv round trips,
append-mode sink, and the update output mode (§2.9 output_modes).

The JSON/CSV entries prove format-bridge fidelity the same way
``cdc_envelope_parse`` proves the wire round trip: parquet → text format →
declared-schema read-back must be the identity, so the oracle is a plain
SELECT of the source view. Schemas are DECLARED on read (SURVEY.md §1.3 —
inference is a second full pass at 100 TB and unsafe on streams).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import SCHEMAS, load
from mongodb_mysql_cdc_spark.functions.compat import hround, sql_dec_avg, sql_dec_sum, sql_round
from mongodb_mysql_cdc_spark.registry import register


@register("read_json", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def read_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON ingest (§2.1 read_json): write nation as JSON lines, read back
    with the declared schema. At 100 TB, JSON is the landing format of the
    MongoDB export path; the declared StructType keeps the read single-pass
    and the columns typed without inference."""
    out = os.path.join(tempfile.mkdtemp(prefix="sparkcdc_json_"), "nation")
    load(spark, sf_dir, "nation").write.mode("overwrite").json(out)
    return spark.read.schema(SCHEMAS["nation"]).json(out)


@register("read_csv", oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")
def read_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest (§2.1 read_csv): supplier → CSV with header → declared-
    schema read-back. Doubles survive because Spark writes shortest
    round-trip decimal strings; the oracle (original parquet values) proves
    it bit-exactly."""
    out = os.path.join(tempfile.mkdtemp(prefix="sparkcdc_csv_"), "supplier")
    load(spark, sf_dir, "supplier").write.mode("overwrite").option("header", True).csv(out)
    return (
        spark.read.schema(SCHEMAS["supplier"]).option("header", True).csv(out)
    )


@register(
    "sink_append",
    oracle="SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders",
)
def sink_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode sink (§2.1 sink_append): two disjoint delta writes into
    the same parquet sink must union losslessly — the batch shape of a
    streaming append sink's output files. (Contrast sink_upsert, which
    reconciles by key.)"""
    out = os.path.join(tempfile.mkdtemp(prefix="sparkcdc_append_"), "orders")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    o.filter(F.col("o_orderkey") % 2 == 0).write.mode("append").parquet(out)
    o.filter(F.col("o_orderkey") % 2 == 1).write.mode("append").parquet(out)
    return spark.read.schema(o.schema).parquet(out)


@register(
    "sink_partition_overwrite",
    oracle="""
SELECT event_id,
       event_type,
       CASE WHEN date_trunc('day', ts) = (SELECT min(date_trunc('day', ts)) FROM events)
            THEN value * 2 ELSE value END AS value,
       CAST(date_trunc('day', ts) AS DATE) AS day
FROM events
""",
)
def sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-overwrite sink (SURVEY.md §4 CUSTOM row): the parquet
    stand-in for Delta's replaceWhere. Write events partitioned by day,
    then restate ONE day (value doubled) with dynamic partitionOverwriteMode
    — only that day's directory is rewritten, every other partition's files
    are untouched. This is the mechanism that makes cdc_apply affordable at
    100 TB: a micro-batch rewrites the key-buckets/days it touches, never
    the table. The read-back must equal full-table-with-one-day-restated."""
    out = os.path.join(tempfile.mkdtemp(prefix="sparkcdc_po_"), "events_by_day")
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(out)

    first_day = ev.agg(F.min("day").alias("_d"))
    restated = (
        ev.crossJoin(F.broadcast(first_day))
        .filter(F.col("day") == F.col("_d"))
        .drop("_d")
        .withColumn("value", F.col("value") * 2)
    )
    (
        restated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(out)
    )
    # read back with the writer's schema: a restatement that leaves the
    # table EMPTY (zero events) must read back as empty, not die in
    # schema inference
    return spark.read.schema(ev.schema).parquet(out).select(
        "event_id", "event_type", "value", "day"
    )


@register(
    "join_salted",
    oracle="""
SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew-defeat join (operators/skew.py): orders (fact) salted 8
    ways against a replicated customer dim; must equal the plain join
    row-for-row. At 100 TB this is the fix for hot keys AQE can't split
    (single-key skew inside one partition)."""
    from mongodb_mysql_cdc_spark.operators.skew import salted_equi_join

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return salted_equi_join(o, c, "o_custkey", "c_custkey", n_salts=8).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "scan_merge_schema",
    oracle="""
SELECT event_id, user_id,
       CASE WHEN event_id % 2 = 1 THEN event_type ELSE NULL END AS event_type,
       CASE WHEN event_id % 2 = 1 THEN value END AS value
FROM events
""",
)
def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the sink (§1.3's dynamic→fixed bridge): a
    MongoDB source grows fields over time, so sink files written at
    different epochs carry different schemas. Epoch-1 files hold
    (event_id, user_id); epoch-2 files add (event_type, value). A
    mergeSchema read must union the footers: old rows surface NULL for the
    new columns — exactly the absent-BSON-field semantics of §2.2
    null_handling, now at the storage layer."""
    base = tempfile.mkdtemp(prefix="sparkcdc_evo_")
    out = os.path.join(base, "events_evolved")
    ev = load(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).select("event_id", "user_id").write.mode(
        "append"
    ).parquet(out)
    ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "event_type", "value"
    ).write.mode("append").parquet(out)
    return spark.read.option("mergeSchema", True).parquet(out).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "join_bucketed",
    oracle="""
SELECT l.l_orderkey, l.l_extendedprice, o.o_totalprice, o.o_orderstatus
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
""",
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join (the third leg of the scale toolkit next
    to broadcast and salting): both fact tables are written bucketed 8
    ways on the join key, so the join reads bucket i against bucket i with
    ZERO exchange on either side — at 100 TB this converts the biggest
    shuffle in the pipeline into a free co-located scan, paid once at
    write time. tests/test_plans.py asserts the exchange-free plan."""
    # Fixed table names: mode("overwrite") replaces them per run, so
    # repeated bench/suite runs keep exactly two catalog entries instead of
    # accumulating uuid-named tables in the session metastore.
    base = tempfile.mkdtemp(prefix="sparkcdc_bucketed_")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    (
        li.write.mode("overwrite")
        .option("path", os.path.join(base, "lineitem"))
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("sparkcdc_li_bkt")
    )
    (
        o.write.mode("overwrite")
        .option("path", os.path.join(base, "orders"))
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("sparkcdc_o_bkt")
    )
    lb, ob = spark.table("sparkcdc_li_bkt"), spark.table("sparkcdc_o_bkt")
    # merge hint: at harness scale the planner would broadcast (and skip
    # bucketed reads entirely); forcing SMJ shows the mechanism under test
    # — bucket-aligned scans joining with zero exchange. At 100 TB neither
    # side broadcasts and this IS the natural plan.
    return lb.hint("merge").join(ob, lb.l_orderkey == ob.o_orderkey).select(
        "l_orderkey", "l_extendedprice", "o_totalprice", "o_orderstatus"
    )


@register(
    "maintenance_compact",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def maintenance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance op every streaming
    sink needs: micro-batches leave thousands of small files (here: a
    64-way fragmented copy), compaction rewrites them into target-sized
    files (repartition to ceil(bytes/target)) without changing a row. At
    100 TB this is what keeps scan task counts and footer overhead sane."""
    base = tempfile.mkdtemp(prefix="sparkcdc_compact_")
    frag, compacted = os.path.join(base, "frag"), os.path.join(base, "compact")
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    ev.repartition(64).write.mode("overwrite").parquet(frag)  # the damage
    fragmented = spark.read.parquet(frag)
    # target file count = total bytes / target file size (~128-256 MB on a
    # real cluster; the 16:1 ratio here exercises the same arithmetic)
    import glob

    files = glob.glob(os.path.join(frag, "*.parquet"))
    total_bytes = sum(os.path.getsize(f) for f in files)
    target_bytes = max(1, total_bytes // max(1, len(files) // 16))
    target_files = max(1, round(total_bytes / target_bytes))
    fragmented.repartition(target_files).write.mode("overwrite").parquet(compacted)
    return spark.read.parquet(compacted)


@register(
    "output_mode_update",
    oracle="""
SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n
FROM events
GROUP BY 1, 2
""",
)
def output_mode_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update output mode (§2.9 output_modes): a live tumbling-count stream
    emits only changed (window, type) rows each micro-batch. Counts are
    monotone under replay-in-order, so max(n) per key over all emitted
    updates equals the final complete-mode state — which is the batch
    date_trunc oracle. Proves update-mode emission is lossless."""
    from mongodb_mysql_cdc_spark.streaming.replay import (
        drain_to_memory_table,
        read_event_stream,
        stage_event_chunks,
    )
    from mongodb_mysql_cdc_spark.streaming.windows import tumbling_counts, with_watermark

    staged = stage_event_chunks(spark, sf_dir, n_chunks=4, dir_prefix="upd")
    stream = with_watermark(read_event_stream(spark, staged), "1 hour")
    agg = tumbling_counts(stream).select("win_start", "event_type", "n")
    emissions = drain_to_memory_table(spark, agg, "upd", "update")
    return emissions.groupBy("win_start", "event_type").agg(F.max("n").alias("n"))


@register(
    "sink_orc_roundtrip",
    oracle="SELECT p_partkey, p_name, p_brand, p_size, p_retailprice FROM part",
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write→read roundtrip (§2.1 format breadth beyond parquet/json/
    csv): the oracle reads the SOURCE table, so the check proves the ORC
    path preserves every row and type bit-for-bit. DuckDB cannot read ORC
    — comparing against the original is what makes this oracle-able.
    100 TB note: ORC, like parquet, carries min/max stripe statistics, so
    the same pushdown/pruning contracts hold; Spark's vectorized ORC
    reader keeps the scan whole-stage-codegen'd."""
    out = os.path.join(tempfile.mkdtemp(prefix="sparkcdc_orc_"), "part")
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size", "p_retailprice"
    )
    p.write.mode("overwrite").orc(out)
    return spark.read.schema(p.schema).orc(out)


@register(
    "maintenance_cluster",
    oracle="""
SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
""",
)
def maintenance_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout clustering (the OPTIMIZE ... ZORDER-lite for plain
    parquet): rewrite the table sorted WITHIN partitions by the hot
    filter column, so every row group's min/max statistics become tight
    and a time-range scan prunes whole groups at the footer. The query
    itself re-reads the clustered copy with a range predicate — the
    oracle is the same predicate on the original table, proving the
    rewrite is lossless. 100 TB: sortWithinPartitions is a local sort
    (no shuffle); combine with repartition(range) when global clustering
    is worth one exchange."""
    out = os.path.join(tempfile.mkdtemp(prefix="sparkcdc_cluster_"), "lineitem")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"
    )
    li.sortWithinPartitions("l_shipdate").write.mode("overwrite").parquet(out)
    return spark.read.schema(li.schema).parquet(out).filter(
        F.col("l_shipdate") >= F.lit("1997-06-01 00:00:00").cast("timestamp")
    )


@register(
    "dq_checks",
    oracle="""
SELECT 'orders_null_custkey' AS check_name,
       count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_violations,
       count(*) AS n_rows
FROM orders
UNION ALL
SELECT 'orders_nonpositive_price',
       count(CASE WHEN o_totalprice <= 0 THEN 1 END), count(*)
FROM orders
UNION ALL
SELECT 'lineitem_qty_range',
       count(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END), count(*)
FROM lineitem
UNION ALL
SELECT 'orders_orphan_custkey',
       count(CASE WHEN c.c_custkey IS NULL THEN 1 END), count(*)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'events_bad_type',
       count(CASE WHEN event_type NOT IN
         ('click','view','purchase','signup','error') THEN 1 END), count(*)
FROM events
""",
)
def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (the expectations layer an ETL pipeline runs
    before promoting a load): null keys, domain ranges, referential
    integrity (orphan FKs via broadcast-dim left join), enum membership —
    one census row per check. Each check is a map-side conditional count;
    the whole suite is one pass per table plus one broadcast join. At
    100 TB the census is the cheap always-on guard; row-level quarantine
    (writing violating rows aside) reuses the same predicates as
    filters."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    ev = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer").select("c_custkey")

    def census(df, name, pred):
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.when(pred, 1)).alias("n_violations"),
            F.count(F.lit(1)).alias("n_rows"),
        )

    orphan = o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
    return (
        census(o, "orders_null_custkey", F.col("o_custkey").isNull())
        .unionByName(census(o, "orders_nonpositive_price", F.col("o_totalprice") <= 0))
        .unionByName(
            census(li, "lineitem_qty_range",
                   (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50))
        )
        .unionByName(census(orphan, "orders_orphan_custkey", F.col("c_custkey").isNull()))
        .unionByName(
            census(
                ev, "events_bad_type",
                ~F.col("event_type").isin("click", "view", "purchase", "signup", "error"),
            )
        )
    )


def avro_available(spark: SparkSession) -> bool:
    """True if the spark-avro module is on the classpath. Avro has been an
    EXTERNAL module since Spark 2.4 (deployed with --packages
    org.apache.spark:spark-avro_2.13); this container ships without it and
    has no network, so the roundtrip below is gated rather than registered
    as a driver query (a registered query must run everywhere)."""
    try:
        spark.range(1).write.format("avro").save(
            os.path.join(tempfile.mkdtemp(prefix="avro_probe_"), "p")
        )
        return True
    except Exception:
        return False


def sink_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro write→read roundtrip, same contract as sink_orc_roundtrip
    (compare against the source table). Raises a clear error where the
    module is absent instead of failing inside the datasource lookup."""
    if not avro_available(spark):
        raise RuntimeError(
            "spark-avro is not on the classpath; deploy with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
        )
    out = os.path.join(tempfile.mkdtemp(prefix="sparkcdc_avro_"), "part")
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size", "p_retailprice"
    )
    p.write.mode("overwrite").format("avro").save(out)
    return spark.read.schema(p.schema).format("avro").load(out)


@register(
    "scan_partition_pruned",
    oracle="""
SELECT event_id, event_type, value, CAST(date_trunc('day', ts) AS DATE) AS day
FROM events
WHERE CAST(date_trunc('day', ts) AS DATE) =
      (SELECT CAST(min(date_trunc('day', ts)) AS DATE) + 2 FROM events)
""",
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static partition pruning — the read-side payoff of the partitioned
    layout sink_partition_overwrite writes: events land partitioned by
    day, and a one-day read must touch ONE directory, not the table. The
    target day is resolved to a plan-time literal first (a scalar
    aggregate on the driver): Catalyst prunes partitions from literal
    predicates during planning, so the filter lands in the scan's
    PartitionFilters and unselected directories are never listed — at
    100 TB this is the difference between reading ~1/30th of a month and
    a full scan. (The companion dynamic form — pruning from a joined dim
    at runtime — needs a second table with a day column; the literal
    form is the contract tests pin in tests/test_timeseries.py.)"""
    out = os.path.join(tempfile.mkdtemp(prefix="sparkcdc_prune_"), "events_by_day")
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(out)
    target = ev.agg(F.date_add(F.min("day"), 2).alias("d")).first()["d"]
    # explicit schema: an empty day-partitioned table has no directories
    # to infer from; target=None then
    # filters to the same zero rows the oracle returns
    return (
        spark.read.schema(ev.schema).parquet(out)
        .filter(F.col("day") == F.lit(target))
        .select("event_id", "event_type", "value", "day")
    )


@register(
    "join_partition_pruned_dynamic",
    oracle="""
WITH ev AS (
  SELECT event_id, user_id, value, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
act AS (SELECT day, count(DISTINCT user_id) AS n_users FROM ev GROUP BY day)
SELECT e.event_id, e.user_id, e.value, e.day, a.n_users
FROM ev e JOIN act a USING (day)
WHERE a.n_users >= 136
""",
)
def join_partition_pruned_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the runtime companion to
    scan_partition_pruned: the fact side is day-partitioned parquet, the
    dim side is a per-day activity rollup filtered on an AGGREGATE
    (n_users ≥ 136) that Catalyst cannot fold to a literal day predicate,
    so only DPP can prune — the broadcast's build keys are re-injected
    into the scan as ``dynamicpruningexpression(day IN dynamicpruning#N)``
    and unselected day directories are never read (plan pinned in
    tests/test_timeseries.py). At 100 TB this is the star-join pattern:
    fact partitions pruned by whatever survived the dim filter, decided
    at runtime, no second pass."""
    out = os.path.join(tempfile.mkdtemp(prefix="sparkcdc_dpp_"), "events_by_day")
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(out)
    act = (
        ev.groupBy("day")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .filter(F.col("n_users") >= 136)
    )
    # explicit schema for the same reason as scan_partition_pruned: an
    # empty fact table has no partition directories to infer from
    return (
        spark.read.schema(ev.schema).parquet(out)
        .join(F.broadcast(act), "day")
        .select("event_id", "user_id", "value", "day", "n_users")
    )


@register(
    "scan_csv_malformed",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row tolerance (§2.1 ingest hygiene): a CSV landing file
    carrying type-corrupt and wrong-arity rows is read in DROPMALFORMED
    mode — the declared schema is the row filter, bad rows vanish, and the
    survivors must equal the clean source exactly (the oracle is the
    original table). The corrupt lines are injected driver-side into the
    25-row nation dim — the pattern under test is the reader mode, which
    at 100 TB runs distributed over every landing file unchanged."""
    rows = (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()  # 25-row bounded dim (BROADCAST_DIMS); never a big table
    )
    lines = ["n_nationkey,n_name,n_regionkey"]
    for i, r in enumerate(rows):
        lines.append(f"{r.n_nationkey},{r.n_name},{r.n_regionkey}")
        if i % 7 == 0:  # interleave corruption between valid rows
            lines.append("not_an_int,BADROW,9")  # type-corrupt key
            lines.append(f"{r.n_nationkey},EXTRA,1,surplus_column")  # arity
    lines.append("99,TRUNCATED")  # missing column → null-padded, still bad:
    # n_regionkey NULL fails the non-null row filter below, mirroring the
    # reference pipeline's NOT NULL sink constraint on the FK
    out_dir = tempfile.mkdtemp(prefix="sparkcdc_badcsv_")
    with open(os.path.join(out_dir, "part-00000.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return (
        spark.read.schema(SCHEMAS["nation"])
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(out_dir)
        .filter(F.col("n_regionkey").isNotNull())
    )


@register(
    "scan_json_corrupt",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey, false AS is_corrupt FROM nation
UNION ALL
SELECT CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER), true
FROM range(8)
""",
)
def scan_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode JSON ingest with corrupt-record routing — the DLQ
    twin of scan_csv_malformed's drop semantics: bad lines survive as
    rows with the raw text in _corrupt_record (here folded to a boolean
    flag) instead of vanishing, so a landing job can count and quarantine
    them. 8 corrupt lines (truncated JSON, bare text, wrong-type key) are
    injected among the clean nation rows; the oracle is the clean table
    plus exactly 8 flagged null rows."""
    clean = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    out_dir = tempfile.mkdtemp(prefix="sparkcdc_badjson_")
    clean.write.mode("overwrite").json(os.path.join(out_dir, "good"))
    bad_lines = (
        ['{"n_nationkey": "NaN-key", "n_name": "Broken", "n_regionkey": 1}'] * 3
        + ['{"n_nationkey": 7, "n_name": "Trunca'] * 3
        + ["this is not json at all"] * 2
    )
    with open(os.path.join(out_dir, "good", "corrupt.json"), "w") as f:
        f.write("\n".join(bad_lines) + "\n")
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT, _corrupt_record STRING"
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(os.path.join(out_dir, "good"))
    )
    bad = F.col("_corrupt_record").isNotNull()
    # PERMISSIVE keeps whatever fields DID parse on a corrupt line; a DLQ
    # must not trust half-parsed rows, so data columns are nulled when
    # the record is flagged (the raw line would ship to quarantine).
    return parsed.select(
        F.when(~bad, F.col("n_nationkey")).alias("n_nationkey"),
        F.when(~bad, F.col("n_name")).alias("n_name"),
        F.when(~bad, F.col("n_regionkey")).alias("n_regionkey"),
        bad.alias("is_corrupt"),
    )


@register(
    "maintenance_zorder",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events
WHERE user_id BETWEEN 40 AND 80 AND value BETWEEN 25.0 AND 75.0
""",
)
def maintenance_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering — the multi-dimensional cousin of
    maintenance_cluster's single-key sort: interleave the bits of the two
    filter dimensions (user_id, bucketed value) into one sort key, range-
    partition + sort the table by it, rewrite. Rows close in BOTH
    dimensions land in the same row groups, so a 2-D range predicate
    prunes on min/max stats where a 1-D sort only prunes its own column.
    The Morton code is 16 rounds of JVM-side shiftleft/or — no UDF. The
    oracle is the predicate on the ORIGINAL table: the layout rewrite
    must be lossless, which is the correctness half of a layout op (the
    pruning half is physical and benchmarked, not hashed)."""
    ev = load(spark, sf_dir, "events")
    a = F.pmod(F.col("user_id"), F.lit(1 << 16)).cast("long")
    b = F.pmod(F.floor(F.col("value") * 100).cast("long"), F.lit(1 << 16))
    morton = F.lit(0).cast("long")
    for i in range(16):
        bit_a = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b, i).bitwiseAND(F.lit(1))
        morton = (
            morton
            .bitwiseOR(F.shiftleft(bit_a, 2 * i))
            .bitwiseOR(F.shiftleft(bit_b, 2 * i + 1))
        )
    out = os.path.join(tempfile.mkdtemp(prefix="sparkcdc_zorder_"), "events")
    (
        ev.withColumn("zkey", morton)
        .repartitionByRange(8, "zkey")
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .where(
            F.col("user_id").between(40, 80) & F.col("value").between(25.0, 75.0)
        )
        .select("event_id", "user_id", "event_type", "value")
    )


@register(
    "scan_python_datasource",
    oracle="""
SELECT i AS seq,
       i % 50 AS key,
       CASE WHEN i % 10 = 0 THEN 'd' WHEN i % 10 = 1 THEN 'c' ELSE 'u' END AS op,
       (i * 31 % 997) / 10.0 AS value,
       CAST(to_timestamp(1704067200 + i) AS TIMESTAMP) AS ts
FROM (SELECT unnest(generate_series(0, 999)) AS i)
""",
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API (§2.1's pluggable-connector seam,
    exercised for real): a registered pure-Python source whose reader
    fans out over 4 InputPartitions, each generating its oplog slice ON
    AN EXECUTOR. The oracle regenerates every row from the shared
    arithmetic formula — so a partition-math bug (dropped/duplicated
    index ranges) or a type mapping bug in the Python→Arrow bridge is a
    value diff, not just a row count. This is the template the
    MongoChangeStreamSource stub upgrades into when a real endpoint
    exists."""
    from mongodb_mysql_cdc_spark.sources.pyds import (
        HAVE_PYDS,
        make_synthetic_oplog_source,
    )

    if not HAVE_PYDS:  # pragma: no cover
        raise RuntimeError("Python DataSource API requires Spark >= 4.0")
    try:
        spark.dataSource.register(make_synthetic_oplog_source())
    except Exception:
        pass  # already registered in this session — idempotent
    raw = (
        spark.read.format("synthetic_oplog")
        .option("partitions", "4")
        .option("rows_per_partition", "250")
        .load()
    )
    return raw.select(
        "seq",
        "key",
        "op",
        "value",
        F.timestamp_seconds("ts_sec").alias("ts"),
    )


@register(
    "stream_python_datasource",
    oracle="""
SELECT i AS seq,
       i % 50 AS key,
       CASE WHEN i % 10 = 0 THEN 'd' WHEN i % 10 = 1 THEN 'c' ELSE 'u' END AS op,
       (i * 31 % 997) / 10.0 AS value,
       CAST(to_timestamp(1704067200 + i) AS TIMESTAMP) AS ts
FROM (SELECT unnest(generate_series(0, 999)) AS i)
""",
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING Python DataSource API — the pure-Python connector
    seam's live half: a SimpleDataSourceStreamReader serves the oplog in
    offset-tracked micro-batches (read(start) → (rows, nextOffset));
    Spark's checkpoint WAL owns the offsets, which IS the resume-token
    mechanism a Mongo change-stream connector implements. Drained through
    an append-mode memory sink; the oracle regenerates all 1000 rows, so
    an offset bug (skipped/replayed range at a batch boundary) is a value
    diff. Pairs with scan_python_datasource exactly as stream_source
    pairs with snapshot_load."""
    from mongodb_mysql_cdc_spark.sources.pyds import (
        HAVE_PYDS,
        make_synthetic_oplog_stream_source,
    )
    from mongodb_mysql_cdc_spark.streaming.replay import drain_to_memory_table

    if not HAVE_PYDS:  # pragma: no cover
        raise RuntimeError("Python DataSource API requires Spark >= 4.0")
    try:
        spark.dataSource.register(make_synthetic_oplog_stream_source())
    except Exception:
        pass  # already registered in this session — idempotent
    raw = (
        spark.readStream.format("synthetic_oplog_stream")
        .option("total_rows", "1000")
        .option("batch_rows", "200")
        .load()
    )
    typed = raw.select(
        "seq", "key", "op", "value", F.timestamp_seconds("ts_sec").alias("ts")
    )
    return drain_to_memory_table(spark, typed, "pydsstream", "append")


@register(
    "scan_observe_metrics",
    oracle=f"""
SELECT CAST(count(*) AS BIGINT)                 AS n_rows,
       {sql_dec_sum('o_totalprice')}             AS total_revenue,
       CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_filled,
       {sql_round(sql_dec_avg('o_totalprice'), 4)} AS avg_price
FROM orders
""",
)
def scan_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Observation API (df.observe) — pipeline telemetry computed ON
    THE SAME PASS as the real work, not a second scan: production jobs
    attach row-count/revenue/filter-hit metrics to the scan and read them
    from the listener after the action. Here the observed values are
    re-emitted as a 1-row DataFrame so the oracle (an independent
    aggregation) verifies the observation channel end-to-end — if
    observe() dropped or double-counted rows under task retries, the
    hash would flip."""
    from pyspark.sql import Observation

    o = load(spark, sf_dir, "orders")
    obs = Observation("orders_scan")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        # exact grid revenue metric (scale-stable contract, compat.py
        # grid notes); the avg is derived from it below as the oracle does
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + 0.5)
            .cast("long")
            .cast("decimal(18,0)")
        ).alias("total_revenue"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_filled"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the action
    m = obs.get
    # float(Decimal cents) is correctly rounded (= the oracle's
    # via-string cast of the exact integer), then the /100.0 and the
    # count division replay sql_grid_sum / sql_dec_avg bit-for-bit.
    # EMPTY scan: observe's sum metric is
    # None over zero rows and the avg divides by n_rows=0 — emit the same
    # (0, NULL, 0, NULL) row the oracle's aggregation produces.
    n = int(m["n_rows"])
    revenue = None if m["total_revenue"] is None else float(m["total_revenue"]) / 100.0
    avg = None if (revenue is None or n == 0) else revenue / n
    row = [(n, revenue, int(m["n_filled"]), avg)]
    out = spark.createDataFrame(
        row, "n_rows long, total_revenue double, n_filled long, avg_price double"
    )
    return out.select(
        "n_rows",
        "total_revenue",
        "n_filled",
        hround(F.col("avg_price"), 4).alias("avg_price"),
    )


@register(
    "scan_python_datasource_pushdown",
    oracle="""
SELECT i AS seq,
       i % 50 AS key,
       CASE WHEN i % 10 = 0 THEN 'd' WHEN i % 10 = 1 THEN 'c' ELSE 'u' END AS op,
       (i * 31 % 997) / 10.0 AS value
FROM (SELECT unnest(generate_series(0, 999)) AS i)
WHERE i >= 380 AND i < 640 AND i % 10 <> 0
""",
)
def scan_python_datasource_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown through the Python DataSource API: the seq-range
    predicate reaches the reader (pushFilters), which PRUNES partitions
    1 and 4 of 4 entirely and applies the residual range inside the
    survivors — connector-side data skipping, the custom-source
    equivalent of parquet row-group stats. The op<>'d' predicate is
    deliberately NOT handled by the source (returned to Spark), proving
    mixed handled/unhandled filter sets stay correct. The oracle applies
    both predicates to the regenerated feed. A pytest asserts the
    partition count actually shrank."""
    from mongodb_mysql_cdc_spark.sources.pyds import (
        HAVE_PYDS,
        make_pushdown_oplog_source,
    )

    if not HAVE_PYDS:  # pragma: no cover
        raise RuntimeError("Python DataSource API requires Spark >= 4.0")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(make_pushdown_oplog_source())
    except Exception:
        pass
    raw = (
        spark.read.format("synthetic_oplog_pushdown")
        .option("partitions", "4")
        .option("rows_per_partition", "250")
        .load()
    )
    return (
        raw.where((F.col("seq") >= 380) & (F.col("seq") < 640) & (F.col("op") != "d"))
        .select("seq", "key", "op", "value")
    )
