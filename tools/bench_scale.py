"""Best-of-N wall-clock comparison of registry queries across two sf dirs
(the BASELINE.md 10× scale-validation harness). Each run builds and fully
materializes the query through bench.py's ``timed_runs``.

Usage:
  python tools/bench_scale.py --queries q1,q2 [--a /root/testdata/sf0.1]
                              [--b /tmp/sf10x] [--n 2]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import timed_runs
from mongodb_mysql_cdc_spark.registry import queries
from mongodb_mysql_cdc_spark.session import get_session


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--a", default="/root/testdata/sf0.1")
    ap.add_argument("--b", default="/tmp/sf10x")
    ap.add_argument("--n", type=int, default=2)
    args = ap.parse_args()
    spark = get_session("bench_scale")
    reg = queries()
    for name in args.queries.split(","):
        fn = reg[name]
        runs_a, ra = timed_runs(fn, spark, args.a, args.n)
        runs_b, rb = timed_runs(fn, spark, args.b, args.n)
        ta, tb = min(runs_a), min(runs_b)
        growth = tb / ta if ta > 0 else float("inf")
        print(
            f"RESULT {name}: a={ta:.2f}s ({ra} rows)  b={tb:.2f}s ({rb} rows)"
            f"  growth={growth:.1f}x",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
