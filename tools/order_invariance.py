"""Row-ORDER self-invariance check (the PERMUTE axis's second half).

The cross-engine strict sweep on the permuted fixture proves Spark and
DuckDB still agree with each other on reordered input; THIS check proves
the stronger property the axis exists for — each registered query's
output is a pure function of the DATA, not of the parquet row order:

    Spark(query, original sf dir)  ==  Spark(query, permuted sf dir)

row-set-identical through the driver-faithful comparator. Any divergence
is either a collect/limit/top-k ordering contract violation (the bug
class) or a floating-point summation-order instability that escaped the
decimal-grid / hround-margin engineering (the comparison-stability
class) — both are findings.

Usage:
    python tools/make_skew.py --mode permute --src /root/testdata/sf0.01 \
        --dst /tmp/sfperm001
    python tools/order_invariance.py --a /root/testdata/sf0.01 \
        --b /tmp/sfperm001 [name ...]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from check_strict import compare  # noqa: E402  (tools/ sibling)

from mongodb_mysql_cdc_spark.registry import queries
from mongodb_mysql_cdc_spark.session import get_session

# Sketch queries whose summaries are legitimately INSERTION-ORDER
# dependent: a KLL/GK-style quantile sketch compacts differently when
# scan-split membership changes, so the permuted estimate is a
# different-but-equally-valid draw from the error bound (first seen at
# sf0.1, where the parquet actually splits into multiple tasks; at
# sf0.01 the single-split scan made it bit-stable). The HLL sketches
# are deliberately NOT here — register-max merge is commutative, so
# agg_approx_distinct / agg_hll_sketch must (and do) self-match
# exactly. For the entries below the contract is the sketch's published
# bound, not bit equality: approx_percentile(accuracy=10000) bounds
# rank error at 1e-4, which on the harness price distribution is well
# inside a 1e-3 relative VALUE margin (observed shift ~2e-4).
ORDER_TOLERANT = {"agg_approx_quantile": 1e-3}


def _within_rel(a, b, rel: float) -> bool:
    """Row-set equality with a relative margin on float columns.

    Alignment: sort by ALL columns — floats quantized
    to a grid of ``rel`` for the sort KEY only — so rows that tie on
    every non-float column still align deterministically (the old
    non-float-keys-only sort let such rows align differently between
    frames, and an all-float result sorted by [] not at all). Rows the
    quantization can still swap differ by < ``rel`` absolute, which the
    rtol compare then accepts for values >= 1; smaller magnitudes may
    false-DIVERGE, which is fail-safe. Stable mergesort keeps the
    alignment deterministic within exact key ties."""
    import numpy as np
    import pandas as pd

    if len(a) != len(b) or sorted(a.columns) != sorted(b.columns):
        return False
    cols = sorted(a.columns)

    def _aligned(df):
        key = pd.DataFrame(index=df.index)
        for c in cols:
            if pd.api.types.is_float_dtype(df[c]):
                key[c] = (df[c] / rel).round()
            else:
                key[c] = df[c]
        order = key.sort_values(cols, kind="mergesort").index
        return df.loc[order].reset_index(drop=True)

    a = _aligned(a)
    b = _aligned(b)
    for c in cols:
        if pd.api.types.is_float_dtype(a[c]):
            if not np.allclose(a[c], b[c], rtol=rel, equal_nan=True):
                return False
        elif not (a[c] == b[c]).all():
            return False
    return True


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", default="/root/testdata/sf0.01")
    ap.add_argument("--b", default="/tmp/sfperm001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_session("order_invariance")
    qs = queries()
    names = args.names or list(qs)
    n_pass = n_fail = 0
    for name in names:
        t0 = time.monotonic()
        try:
            a = qs[name](spark, args.a).toPandas()
            b = qs[name](spark, args.b).toPandas()
            problems = compare(a, b)
        except Exception as ex:  # a crash is a finding, not a tool error
            problems = [f"{type(ex).__name__}: {ex}"]
        wall = time.monotonic() - t0
        note = ""
        if problems and name in ORDER_TOLERANT:
            try:
                if _within_rel(a, b, ORDER_TOLERANT[name]):
                    problems = []
                    note = (
                        " (order-dependent sketch, within rel"
                        f" {ORDER_TOLERANT[name]:g})"
                    )
            except Exception:
                pass  # keep the exact-compare problems as the finding
        if problems:
            n_fail += 1
            print(f"DIVERGES {name} [{wall:.1f}s]")
            for p in problems[:3]:
                print(f"     {p}")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(a)} rows) [{wall:.1f}s]{note}")
    print(f"\n{n_pass} order-invariant, {n_fail} diverge")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
