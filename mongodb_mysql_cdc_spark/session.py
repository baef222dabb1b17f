"""SparkSession factory tuned for the test harness (local[N]) while keeping
every knob cluster-correct: the same builder settings are what we would ship
on a 1000-executor cluster, with only master/memory being local-specific.

Scale rationale (100 TB):
- AQE on: runtime coalescing, skew-join splitting, and runtime broadcast
  conversion are the main levers when static stats are wrong at scale.
- shuffle.partitions is sized to cores locally; at 100 TB it should be
  sized so each post-shuffle partition is ~128-256 MB (AQE coalesces down).
- UTC session timezone: required for deterministic timestamp semantics and
  for parity with the DuckDB oracle.
- Arrow on: every pandas_udf / applyInPandas edge transfers columnar.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def shuffle_partitions() -> int:
    """Shuffle-partition default — cores locally; SPARK_GRAFT_SHUFFLE is a
    TEST lever for the cluster-shape rehearsal (e.g. 1024: a real
    cluster's partition count, and the ranking machinery's bucket-cap
    regime) without changing executor-thread count."""
    return int(os.environ.get("SPARK_GRAFT_SHUFFLE", default_parallelism()))


def _aqe() -> str:
    """AQE default (\"true\"). SPARK_GRAFT_AQE=false is a TEST lever for the
    layout-invariance sweep: every registered query must produce identical
    results with runtime re-planning disabled — results may depend only on
    row values, never on how AQE lays the plan out. Production keeps AQE
    on."""
    return os.environ.get("SPARK_GRAFT_AQE", "true")


def _extra_conf() -> list[tuple[str, str]]:
    """SPARK_GRAFT_EXTRA_CONF="k=v;k=v" — generic TEST lever for
    execution-path invariance sweeps (e.g. wholeStage codegen off,
    vectorized parquet reader off). Empty in production."""
    raw = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    out = []
    for item in raw.split(";"):
        if "=" in item:
            k, v = item.split("=", 1)
            out.append((k.strip(), v.strip()))
    return out


def _runtime_conf() -> list[tuple[str, str]]:
    """The engine defaults that can be set on a live session — the one
    table ``get_session`` builds with and ``tune_for_harness`` applies to
    a session it is handed."""
    return [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", _aqe()),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.shuffle.partitions", str(shuffle_partitions())),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)),
        # PySpark 4's per-call origin capture (DataFrame debugging) costs 4
        # py4j round trips per Column/DataFrame API call — ~1/3 of all
        # plan-build socket traffic in a cProfile. It only enriches error
        # messages with Python call sites. On a live session it takes
        # effect only if set before the first DataFrame API call latches
        # the process-global cache.
        ("spark.python.sql.dataFrameDebugging.enabled", "false"),
        # events.ts is parquet TIMESTAMP(NANOS) — read as long, see catalog.load
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # custom Python DataSource filter pushdown (scan_python_datasource_pushdown)
        ("spark.sql.python.filterPushdown.enabled", "true"),
        *_extra_conf(),
    ]


def get_session(app_name: str = "mongodb_mysql_cdc_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    builder = (
        SparkSession.builder.master(f"local[{default_parallelism()}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _runtime_conf():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_harness(spark: SparkSession) -> SparkSession:
    """Apply the runtime engine defaults to an externally-provided session
    (the driver hands us one; we cannot rebuild it)."""
    for k, v in _runtime_conf():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build — keep going
    return spark
