from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from mongodb_mysql_cdc_spark.plans import pushed_filters, read_schema_columns


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        "avg_qty",
        "avg_price",
        "avg_disc",
        "count_order",
    }
    total = sum(r.count_order for r in rows)
    assert total > 0


def test_pricing_summary_plan_is_scale_ready(spark, sf_dir):
    from mongodb_mysql_cdc_spark.suite.relational import pricing_summary

    df = pricing_summary(spark, sf_dir)
    # shipdate predicate must reach the parquet scan
    assert any("l_shipdate" in f for f in pushed_filters(df))
    # scan must prune to only the 7 columns the query touches
    scans = read_schema_columns(df)
    assert scans and all(len(cols) <= 7 for cols in scans)


def test_registry_oracle_names_subset(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) > 0


def test_registry_wide_output_and_plan_invariants(spark):
    """One pass over every registered query (sf0.001 so eager streaming
    queries stay cheap), asserting two invariant classes:

    1. No array/map/struct TOP-LEVEL output columns — the driver
       canonicalizes through pandas sort_values, which crashes on complex
       cells (round-4 driver red on agg_approx_quantile: `unhashable
       type: numpy.ndarray`). Serialize with F.array_join / to_json.
    2. No physical-plan scale-killers (tools/plan_lint.py): unintended
       CartesianProduct, row-at-a-time BatchEvalPython, or a WindowExec
       with an empty partition spec (every row → ONE task; the round-5
       lint found analytics_rfm's global ntile and it now uses the
       distributed ranking operator instead)."""
    import sys
    from pathlib import Path

    from pyspark.sql.types import ArrayType, MapType, StructType

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import plan_lint

    offenders = {}
    for name, fn in entrymod.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            offenders[name] = f"complex output columns: {complex_cols}"
        problems = plan_lint.lint_one(name, df)
        if problems:
            offenders[name] = "; ".join(problems)
    assert not offenders, offenders


def test_registry_order_is_registration_order():
    """queries() and oracles() hand out names in registration order, with
    no reordering layered on top, and over the whole registry only the
    approximate sketches lack an oracle: each gets the driver's weaker
    rows-only check and a pytest accuracy anchor as the stronger one."""
    from mongodb_mysql_cdc_spark import registry

    q = list(registry.queries())
    assert q == list(registry._QUERIES)
    assert list(registry.oracles()) == list(registry._ORACLES)
    assert set(q) - set(registry.oracles()) == {
        "agg_approx_distinct",
        "agg_approx_quantile",
        "agg_hll_sketch",
    }
