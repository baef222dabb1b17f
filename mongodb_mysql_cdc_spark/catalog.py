"""Table catalog: declared schemas + loaders for the harness parquet tables.

Schemas are DECLARED, not inferred (SURVEY.md §1.3) — on a stream, inference
is unsafe; on a 100 TB batch read it costs a footer-listing pass. Parquet
footers still win for batch reads (column pruning + predicate pushdown are
driven by the footer), so ``load`` reads without forcing the schema but
``SCHEMAS`` is the contract tests assert against.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# Dimension tables small enough to broadcast unconditionally at ANY scale
# factor — region/nation are bounded by the world (5 / 25 rows); at 100 TB
# they are still 25 rows. supplier/part/customer grow with SF and must NOT
# be assumed broadcastable; AQE decides for those.
BROADCAST_DIMS = frozenset({"region", "nation"})


def path_for(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# Reader-schema cache: without it every ``load`` re-infers the footer
# schema (a driver-side job per call) and then fetches ``df.schema`` over
# py4j to cast TIMESTAMP_NTZ columns — measured at 0.05-0.3 s of pure plan-build time per headline query run (tables × runs).
# The schema is METADATA, not a result: caching it is the same thing a
# catalog (Hive/Iceberg) does in production, and every bench/oracle run
# still computes from the parquet bytes. Keyed on (path, mtime_ns, size)
# so a rewritten fixture dir can never serve a stale schema.
_SCHEMA_CACHE: dict[tuple[str, int, int], T.StructType] = {}


def _reader_schema(spark: SparkSession, path: str) -> T.StructType:
    """Inferred footer schema with TIMESTAMP_NTZ folded to session-TZ
    TIMESTAMP (the session is pinned UTC, so reading the naive micros as a
    UTC instant is the identical reinterpretation the old post-read cast
    did — hash-verified bit-identical, and the pushed-down literal is now
    an LTZ comparison instead of an NTZ one). Top-level columns only: no
    harness table nests timestamps inside structs/arrays."""
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    cached = _SCHEMA_CACHE.get(key)
    if cached is None:
        inferred = spark.read.parquet(path).schema
        cached = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.TimestampType()
                    if isinstance(f.dataType, T.TimestampNTZType)
                    else f.dataType,
                    f.nullable,
                )
                for f in inferred
            ]
        )
        _SCHEMA_CACHE[key] = cached
    return cached


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one harness table. Explicit-schema parquet read (schema from the
    per-path footer cache above): Catalyst drives column pruning + predicate
    pushdown from whatever the caller selects/filters, and no per-call
    footer-inference job runs.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) (which Spark's
    vectorized reader rejects — read as raw nanos via the legacy conf and
    truncated to micros, exactly DuckDB's behavior), as naive
    ``timestamp[us]`` (TIMESTAMP_NTZ under NTZ inference — read as
    session-UTC TIMESTAMP via the reader schema), and as INT96 (infers as
    TIMESTAMP directly). Handle all vintages so the loader works against
    any edition of the harness data. Truncation (DIV), not rounding: DIV
    keeps the integer math in longs; a double division would lose precision
    above 2^53 ns (~1970+104 days).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = path_for(sf_dir, name)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = _reader_schema(spark, path)
        df = spark.read.schema(schema).parquet(path)
        if isinstance(schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return _attach_split_hint(df, path)
    return _attach_split_hint(
        spark.read.schema(_reader_schema(spark, path)).parquet(path), path
    )


def _attach_split_hint(df: DataFrame, path: str) -> DataFrame:
    """Annotate the DataFrame with the scan's approximate input-split count
    so ``operators.partitioning.spread`` can make its fan-out decision
    without a physical-planning probe (``df.rdd.getNumPartitions()`` costs
    60-160 ms of plan-build per call). Estimate: ceil(file
    bytes / 128 MB default maxPartitionBytes); only the under-/adequately-
    partitioned DECISION consumes it, never a result."""
    try:
        if os.path.isdir(path):
            # Spark-written dataset dir: st_size would be the inode size
            # (~4 KB → hint always 1, defeating spread's decision on
            # large tables). Sum the data files instead,
            # and floor the estimate at the file count (each data file
            # is at least one scan task), matching partitioning's
            # inputFiles fallback.
            sizes = [
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
                if not f.startswith(("_", "."))
            ]
            n_files, size = max(1, len(sizes)), sum(sizes)
        else:
            n_files, size = 1, os.stat(path).st_size
        df._sg_scan_splits = max(n_files, -(-size // (128 << 20)))
    except OSError:
        pass
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every harness table as a temp view for the SQL API."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
